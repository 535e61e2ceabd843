package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import graft.Checkpoints.CutOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *  - [[bruteForceKnn]]: exact cosine top-k — the query side is broadcast,
  *    so the "cross join" is a broadcast nested loop that streams the big
  *    side once; correct when |queries| is small. This is the baseline.
  *  - [[lshKnn]]: random-hyperplane LSH with OR-amplification (L tables ×
  *    b bits) — candidates come from same-bucket joins only, then exact
  *    rerank. This is the scale path: per-query work drops from |corpus|
  *    to L × expected-bucket-size, and the bucket join partitions cleanly
  *    across a cluster (IVF-style pruning).
  */
object Similarity {

  /** Exact double-precision dot product — the native codegen'd
    * [[graft.functions.NativeExpressions.DotProductExpr]] (bit-identical
    * to the `aggregate(zip_with(cast·cast))` HOF form it replaced, which
    * paid interpreted lambda dispatch per element on every cosine hot
    * path). Requires [[graft.functions.NativeExpressions.register]] on the
    * session; every entry point in this object registers it.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector. Output:
    * (qid, rank, neighbor_id, sim).
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int = 10): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    // Norms precomputed once per VECTOR, not per pair — at |q|×|corpus|
    // pairs the per-pair norm aggregates dominate otherwise.
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("_qv"),
      norm(col(vecCol)).as("_qn"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_v"),
        norm(col(vecCol)).as("_cn"))
      .join(broadcast(q), col("neighbor_id") =!= col("qid"))
      .withColumn("sim", dot(col("_qv"), col("_v")) / (col("_qn") * col("_cn")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Integer-exact brute-force top-k over INT8-quantized codes — the
    * production rerank trick turned into a float-free contract:
    * [[scalarQuantize]]'s per-dimension byte codes are engine-identical,
    * a byte-vector dot product is <= 64·255² < 2²² (exact in double,
    * emitted as BIGINT), and the (dot desc, id asc) ranking therefore
    * has zero tie ambiguity on any engine or partitioning. Output:
    * (qid, rank, neighbor_id, dot) — all integers. Queries are an id
    * table; their codes come from the corpus-wide quantization, the
    * quantize-once-probe-with-codes production semantics.
    *
    * Scale shape: identical to [[bruteForceKnn]] (broadcast query side,
    * corpus streamed once, native codegen'd dot); quantization adds one
    * per-dimension range aggregate (64 rows, broadcast) and one per-id
    * reassembly aggregate.
    */
  def int8Knn(corpus: DataFrame, queryIds: DataFrame, idCol: String,
              vecCol: String, k: Int = 10): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val codes = scalarQuantize(corpus, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("q")))),
        s => s.getField("q").cast("double")).as("_cv"))
    val q = codes.join(queryIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("qid"), col("_cv").as("_qv"))
    val scored = codes.select(col(idCol).as("neighbor_id"), col("_cv"))
      .join(broadcast(q), col("neighbor_id") =!= col("qid"))
      .withColumn("dot", dot(col("_qv"), col("_cv")).cast("long"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("dot"))
  }

  /** The composed production ANN stack: IVF coarse search ([[ivfKnn]]'s
    * centroid assignment + nprobe list probing) with an [[int8Knn]]-style
    * INT8-code rerank — coarse quantizer prunes the corpus to ~nprobe/
    * |centroids|, byte-code dots rank the survivors with BIGINT-exact
    * scores. The compared surface (candidate set boundaries aside, which
    * are q44's already-gated device) is float-free. Output:
    * (qid, rank, neighbor_id, dot).
    *
    * Scale shape: q44's exactly — corpus streamed once against broadcast
    * centroids, candidate join shuffled on centroid id — plus the two
    * quantization aggregates; the rerank join carries byte codes, 4×
    * smaller than the float vectors the cosine rerank ships.
    */
  def ivfInt8Knn(corpus: DataFrame, queryIds: DataFrame, idCol: String,
                 vecCol: String, k: Int = 10, centroidEvery: Int = 64,
                 nprobe: Int = 4): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val centroids = centroidsOf(corpus, idCol, vecCol, centroidEvery)
    val assigned = nearest(corpus, centroids, idCol, vecCol,
        "neighbor_id", "_v", "_cn2", keep = 1)
      .select(col("neighbor_id"), col("_cid"))
    val probed = nearest(corpus.join(queryIds, Seq(idCol), "left_semi"),
        centroids, idCol, vecCol, "qid", "_qv", "_qn", keep = nprobe)
      .select(col("qid"), col("_cid"))
    val codes = scalarQuantize(corpus, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("q")))),
        s => s.getField("q").cast("double")).as("_cv"))
    val scored = probed.join(assigned, Seq("_cid"))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"))
      .join(codes.select(col(idCol).as("qid"), col("_cv").as("_qv")),
        Seq("qid"))
      .join(codes.select(col(idCol).as("neighbor_id"), col("_cv")),
        Seq("neighbor_id"))
      .withColumn("dot", dot(col("_qv"), col("_cv")).cast("long"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("dot"))
  }

  /** ANN quality audit: per-query recall of an approximate top-k result
    * against the exact one — the number an index deployment watches
    * (IVF probe counts and LSH table counts are tuned against exactly
    * this). Both inputs are (qid, neighbor_id[, …]) top-k tables; output
    * is (qid, n_hits, recall_ppm) with recall in integer parts-per-million
    * (n_hits ≤ k, so the BIGINT product never overflows) — every query id
    * from `exact` appears, zero-hit queries included.
    *
    * Scale shape: one (qid, neighbor_id) equi-join between two tables of
    * |queries|·k rows and a per-qid count — top-k outputs are small by
    * construction, so this costs nothing next to either index scan.
    */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val hits = exact.select(col("qid"), col("neighbor_id"))
      .join(approx.select(col("qid"), col("neighbor_id")),
        Seq("qid", "neighbor_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000L) div $k"))
  }

  /** Deterministic random hyperplanes: `tables * bitsPerTable` planes of
    * dimension `dim`, fixed seed.
    */
  def planes(dim: Int, tables: Int, bitsPerTable: Int,
             seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bitsPerTable)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** Sign-bucket of a vector under one table's planes: an integer whose
    * bit b is sign(v · plane_b).
    */
  private def bucket(v: Column, tablePlanes: Seq[Seq[Double]]): Column =
    tablePlanes.zipWithIndex.map { case (p, b) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket
    * candidates (corpus self-join on (table, bucket), id1 < id2) verified
    * with exact double cosine ≥ threshold. No all-pairs join: candidates
    * come only from shared buckets.
    *
    * Bucket depth is the selectivity lever: random 64-dim pairs collide
    * on one plane with p≈0.5, so 12-bit buckets admit ~0.02% of random
    * pairs per table — shallow buckets (4 bits) degenerate to near-all-
    * pairs once the corpus outgrows 2⁴ buckets. Recall: IDENTICAL vectors
    * share every sign, so exact-duplicate recall is 1.0 at any depth;
    * near-threshold pairs (cos≈0.95 ⇒ per-plane agreement ≈0.9) see
    * per-table recall 0.9^bits — raise `tables` when hunting borderline
    * near-dups rather than duplicates.
    */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, dim: Int = 64,
                     tables: Int = 8, bitsPerTable: Int = 12): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val ps = planes(dim, tables, bitsPerTable)
    // The bucket self-join carries ONLY ids: a candidate pair that
    // collides in several tables would otherwise drag its two 64-float
    // vectors through the shuffle once per collision. Pairs are deduped
    // first (two longs per row), then each side's vector+norm joins back
    // exactly once for the verify.
    val b = corpus.select(col(idCol).as("_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), bucket(col(vecCol), ps(t)).as("bk"))): _*))
        .as("_tb"))
      .select(col("_id"), col("_tb.t").as("_t"), col("_tb.bk").as("_bk"))
    val pairs = b.as("l").join(b.as("r"),
      col("l._t") === col("r._t") && col("l._bk") === col("r._bk") &&
        col("l._id") < col("r._id"))
      .select(col("l._id").as("d1"), col("r._id").as("d2"))
      .distinct()
    val vecs = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      norm(col(vecCol)).as("_n"))
    pairs
      .join(vecs.select(col("_id").as("d1"), col("_v").as("_v1"),
        col("_n").as("_n1")), Seq("d1"))
      .join(vecs.select(col("_id").as("d2"), col("_v").as("_v2"),
        col("_n").as("_n2")), Seq("d2"))
      .withColumn("cosine",
        dot(col("_v1"), col("_v2")) / (col("_n1") * col("_n2")))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), col("cosine"))
  }

  /** IVF-style ANN: coarse-quantize the corpus into inverted lists keyed
    * by the nearest of ~|corpus|/`centroidEvery` sampled centroids, probe
    * the `nprobe` nearest lists per query, exact-cosine rerank within the
    * probed lists. Output: (qid, rank, neighbor_id, sim).
    *
    * The coarse quantizer uses deterministic id-sampled centroids (every
    * `centroidEvery`-th id) rather than k-means: sampling is the standard
    * cheap quantizer variant, is reproducible under any partitioning
    * (k-means' float summation order is not), and keeps the whole operator
    * oracle-verifiable. Assignment and probing are broadcast nested-loop
    * joins against the tiny centroid set; nearest-centroid choice
    * tie-breaks on the smaller centroid id via max(struct(sim, -cid)).
    *
    * Scale: the corpus streams ONCE against broadcast centroids (map-only
    * assignment), the candidate join shuffles on centroid id, and rerank
    * touches only the probed lists — per query ~nprobe/|centroids| of the
    * corpus instead of all of it. At 100 TB the assignment output would be
    * written bucketed by `_cid` so repeated query batches skip the
    * assignment pass entirely.
    */
  /** Deterministic id-sampled centroid table (_cid, _cv, _cn).
    *
    * Capped exactly like [[kMeans]]: a FIXED sampling modulus makes
    * |centroids| ∝ n, and the broadcast coarse assignment goes
    * O(n²/every) — the q93 100× probe measured 31× wall at 100× data
    * before this cap (coarse assignment pairs EXCEEDED the brute-force
    * baseline's at 200k vectors). The modulus is computed IN-PLAN — a
    * single-row count aggregate cross-joined as a scalar broadcast (the
    * same whitelisted shape as q105's totals) — so constructing the
    * DataFrame triggers no Spark job; the count is a map-side-combined
    * aggregate that runs with the query itself instead of an eager
    * driver-side `count()` paid once per chain construction (q85 built
    * two chains and paid it twice). Past the cap, growth is linear. At
    * oracle scale (n ≤ 64·maxCentroids) the modulus equals
    * `centroidEvery`, so gated outputs are unchanged.
    */
  private def centroidsOf(corpus: DataFrame, idCol: String, vecCol: String,
                          centroidEvery: Int,
                          maxCentroids: Int = 1024): DataFrame = {
    val mod = corpus.agg(
      greatest(lit(centroidEvery.toLong),
        ceil(count(lit(1)).cast("double") / maxCentroids).cast("long"))
        .as("_every"))
    corpus.crossJoin(broadcast(mod))
      .filter(col(idCol) % col("_every") === 0)
      .select(col(idCol).as("_cid"), col(vecCol).as("_cv"),
        norm(col(vecCol)).as("_cn"))
  }

  /** Nearest-centroid assignment against a broadcast centroid table:
    * (id, vec, nrm, _cid) with `keep` nearest lists per row, tie-break on
    * the smaller centroid id.
    */
  private def nearest(df: DataFrame, centroids: DataFrame, idCol: String,
                      vecCol: String, id: String, vec: String, nrm: String,
                      keep: Int,
                      rankCol: Option[String] = None): DataFrame = {
    val scored = df
      .select(col(idCol).as(id), col(vecCol).as(vec),
        norm(col(vecCol)).as(nrm))
      .join(broadcast(centroids.select(col("_cid"), col("_cv"), col("_cn"))))
      .withColumn("_csim", dot(col(vec), col("_cv")) / (col(nrm) * col("_cn")))
    if (keep == 1 && rankCol.isEmpty) {
      // argmax with deterministic smaller-cid tie-break, one agg pass.
      scored.groupBy(col(id))
        .agg(first(col(vec)).as(vec), first(col(nrm)).as(nrm),
          (-max(struct(col("_csim"), -col("_cid"))).getField("col2"))
            .as("_cid"))
    } else {
      val w = Window.partitionBy(col(id))
        .orderBy(col("_csim").desc, col("_cid").asc)
      scored.withColumn("_cr", row_number().over(w))
        .filter(col("_cr") <= keep)
        .select(Seq(col(id), col(vec), col(nrm), col("_cid")) ++
          rankCol.map(r => col("_cr").as(r)): _*)
    }
  }

  /** The probed-lists ADC reconstruction shared by [[ivfPqKnnIndexed]]
    * and [[ivfPqKnnGrid]]: read ONLY the probed `_cid=` code
    * partitions (isin partition filter), decode against the broadcast
    * codebook, one (vector, list) reconstructed row each.
    * Partition-column type inference can read `_cid` back as int —
    * cast to the centroid table's long before the join. The codebook's
    * own `_cid` is the CODE id; rename it before joining so the coarse
    * list id keeps the name. */
  private def reconProbed(spark: org.apache.spark.sql.SparkSession,
                          dir: String, idCol: String,
                          cids: Array[Long]): DataFrame = {
    val codebook = graft.Tables.parquet(spark, s"$dir/codebook")
    graft.sources.ShardStore.live(spark, s"$dir/codes")
      .filter(col("_cid").isin(cids.toIndexedSeq: _*))
      .select(col(idCol).as("_vid"), col("_cid").cast("long").as("_cid"),
        posexplode(col("codes")).as(Seq("_sub", "_code")))
      .join(broadcast(codebook.withColumnRenamed("_cid", "_code")),
        Seq("_sub", "_code"))
      .groupBy(col("_vid"), col("_cid"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("_sub"), col("_cv")))),
        s => s.getField("_cv"))).as("_rv"))
  }

  /** Top-k exact-cosine rerank of (probed ⋈ lists) candidates. */
  private def rerank(probed: DataFrame, lists: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probed.join(lists, Seq("_cid"))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("sim", dot(col("_qv"), col("_v")) / (col("_qn") * col("_cn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("sim"))
  }

  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int = 10, centroidEvery: Int = 64,
             nprobe: Int = 4): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val centroids = centroidsOf(corpus, idCol, vecCol, centroidEvery)
    val assigned = nearest(corpus, centroids, idCol, vecCol,
      "neighbor_id", "_v", "_cn2", keep = 1)
    val probed = nearest(queries, centroids, idCol, vecCol,
      "qid", "_qv", "_qn", keep = nprobe)
    rerank(probed, assigned, k)
  }

  /** Materialize the IVF index under `dir`: `centroids/` (tiny parquet)
    * and `lists/` — the corpus assignment written PARTITIONED BY the
    * centroid id. This is the repeated-query-batch scale path the inline
    * [[ivfKnn]] doc promises: the assignment pass over the corpus runs
    * ONCE at build time, and each query batch then reads only its probed
    * lists through partition pruning instead of streaming the corpus.
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    dir: String, centroidEvery: Int = 64): Unit = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val centroids = centroidsOf(corpus, idCol, vecCol, centroidEvery)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    nearest(corpus, centroids, idCol, vecCol, "neighbor_id", "_v", "_cn2",
      keep = 1)
      .write.mode("overwrite").partitionBy("_cid").parquet(s"$dir/lists")
  }

  /** Incremental IVF ingest: assign a NEW vector batch against the
    * STORED centroid table and APPEND its rows to the partitioned lists
    * — the ANN analogue of [[Dedup.dedupAgainstIndex]]'s sign-once
    * discipline. The coarse quantizer stays frozen (standard IVF
    * practice — retrain on drift, not per batch), so a batch costs one
    * map-only assignment against the broadcast centroids plus an append
    * into only the touched list partitions; the indexed corpus is never
    * re-read or re-clustered, and [[ivfKnnIndexed]] sees the new vectors
    * on its next probe (dynamic partition append preserves the layout).
    */
  @deprecated("blind append DUPLICATES a redelivered batch — use the " +
    "replay-safe writeIvfShard(batch, …, batchId) form", "round 15")
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                       dir: String): Unit = {
    val spark = batch.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    nearest(batch, centroids, idCol, vecCol, "neighbor_id", "_v", "_cn2",
      keep = 1)
      .write.mode("append").partitionBy("_cid").parquet(s"$dir/lists")
  }

  /** Freeze the coarse quantizer ALONE from a seed corpus — the first
    * half of the stream-built IVF index: centroids are trained once
    * (standard IVF practice — retrain on drift, not per batch) and
    * every later batch assigns against them map-only. */
  def writeIvfCentroids(seed: DataFrame, idCol: String, vecCol: String,
                        dir: String, centroidEvery: Int = 64): Unit = {
    graft.functions.NativeExpressions.register(seed.sparkSession)
    centroidsOf(seed, idCol, vecCol, centroidEvery)
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** One micro-batch's shard of a STREAM-built IVF list table: the
    * batch assigns against the frozen centroids and lands under
    * `lists/batch_id=<id>/_cid=…/` with dynamic partition overwrite —
    * the replay-safe twin of [[appendToIvfIndex]] (whose blind append
    * would DUPLICATE a redelivered batch; at-least-once streams need
    * the shard form). [[ivfKnnIndexed]] serves both layouts unchanged:
    * its `_cid` isin filter partition-prunes at whichever level the
    * column lives. */
  def writeIvfShard(batch: DataFrame, idCol: String, vecCol: String,
                    dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    val assigned = nearest(batch, centroids, idCol, vecCol,
        "neighbor_id", "_v", "_cn2", keep = 1)
      .withColumn("batch_id", lit(batchId))
    graft.sources.ShardStore.overwritePartitions(assigned, s"$dir/lists",
      Seq("batch_id", "_cid"))
  }

  /** ANN over a materialized [[writeIvfIndex]] index. The probed centroid
    * ids of the batch are collected (|queries| × nprobe ids — a query
    * batch is driver-small by construction) and pushed as an isin filter,
    * so the lists scan partition-prunes to exactly the probed lists.
    */
  def ivfKnnIndexed(queries: DataFrame, idCol: String, vecCol: String,
                    dir: String, k: Int = 10, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    val probed = nearest(queries, centroids, idCol, vecCol,
      "qid", "_qv", "_qn", keep = nprobe)
      .cutLineageEager() // probes are reused for the cid set + the join
    // Cast before collect: partition-column type inference can read the
    // written `_cid` back as int, and an int idCol is legal input — a bare
    // getLong would ClassCastException on either.
    val cids = probed.select(col("_cid").cast("long")).distinct()
      .collect().map(_.getLong(0))
    // LIVE view: honors a compactIvfShards horizon on stream-built
    // shard layouts; a plain read (no batch_id / no marker) otherwise.
    val lists = graft.sources.ShardStore.live(spark, s"$dir/lists")
      .filter(col("_cid").isin(cids: _*))
    rerank(probed, lists, k)
  }

  /** Fold a stream-built IVF list table's `batch_id=` shards into one
    * base shard (identity fold — list rows re-land partitioned by
    * `_cid`): the probed-list read cost stops scaling with stream
    * lifetime and the small-file count collapses, while a replayed
    * pre-horizon batch is dropped by the read-side horizon instead of
    * duplicating vectors. */
  def compactIvfShards(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Unit =
    graft.sources.ShardStore.compact(spark, s"$dir/lists",
      extraPartCols = Seq("_cid"))

  /** [[compactIvfShards]] for the [[writeIvfPqShard]] codes table. */
  def compactIvfPqShards(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Unit =
    graft.sources.ShardStore.compact(spark, s"$dir/codes",
      extraPartCols = Seq("_cid"))

  /** Distributed Lloyd k-means over the embedding column — the clustering
    * step behind diversity-aware curation (cluster-balanced sampling,
    * SemDeDup-style semantic grouping). Output: (idCol, cluster) — the
    * final nearest-centroid assignment after `iters` update rounds, with
    * cluster ids = the seed vectors' ids (stable across rounds).
    *
    * Determinism across engines (what makes this oracle-verifiable where
    * textbook k-means is not): seeds are id-sampled (every
    * `centroidEvery`-th id, same device as IVF), distances are the exact
    * double chain dot(v,v) − 2·dot(v,c) + dot(c,c) with a smaller-id
    * tie-break, and each recomputed per-dimension mean is ROUNDED to 6
    * decimals — float summation order differs between engines (and
    * between cluster layouts), but a last-ulp difference cannot survive
    * the rounding, so every round's centroid table is bit-identical
    * everywhere.
    *
    * Scale shape per round: assignment is map-only against the BROADCAST
    * centroid table (k·dim doubles — ~400 KB at k=781, d=64); the update
    * is one posexplode + groupBy(cluster, dim) average with map-side
    * combine — corpus crosses the wire once per round as (cluster, pos,
    * val) triples, and nothing ever all-pairs joins.
    */
  def kMeans(corpus: DataFrame, idCol: String, vecCol: String,
             centroidEvery: Int = 64, iters: Int = 2,
             maxCentroids: Int = 1024): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val vecs = corpus.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
    // Assignment is O(n·k) per round. With a FIXED sampling modulus, k
    // grows with the corpus and the round cost goes QUADRATIC — the
    // 100× scale probe measured 151× wall at 100× data before this cap.
    // Once n/centroidEvery would exceed maxCentroids the modulus widens,
    // pinning k and making further growth linear. The cap trades cluster
    // granularity, not correctness; SemDeDup callers inherit larger
    // clusters (its documented quadratic-in-cluster-size trade). As in
    // centroidsOf, the modulus is an in-plan single-row scalar broadcast,
    // not an eager driver-side count at construction time.
    val mod = vecs.agg(
      greatest(lit(centroidEvery.toLong),
        ceil(count(lit(1)).cast("double") / maxCentroids).cast("long"))
        .as("_every"))
    // Seed centroids: id-sampled, coordinates cast (not rounded — the
    // raw floats are exact in both engines).
    var centroids = vecs.crossJoin(broadcast(mod))
      .filter(col("_vid") % col("_every") === 0)
      .select(col("_vid").as("_cid"),
        transform(col("_v"), x => x.cast("double")).as("_cv"))
    def assign(cs: DataFrame): DataFrame = vecs
      .join(broadcast(cs))
      .withColumn("_d",
        dot(col("_v"), col("_v")) - lit(2.0) * dot(col("_v"), col("_cv"))
          + dot(col("_cv"), col("_cv")))
      .groupBy(col("_vid"))
      // argmin distance, smaller cid on ties: max of (-d, -cid).
      .agg((-max(struct(-col("_d"), -col("_cid"))).getField("col2"))
        .as("_cid"))
    for (_ <- 0 until iters) {
      val assigned = assign(centroids)
      centroids = assigned.join(vecs, Seq("_vid"))
        .select(col("_cid"), posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy(col("_cid"), col("_pos"))
        .agg(round(avg(col("_x").cast("double")), 6).as("_m"))
        .groupBy(col("_cid"))
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m")).as("_cv"))
        // k rows — materialize so each round's broadcast doesn't re-run
        // the whole lineage of every previous round.
        .cutLineageEager()
    }
    assign(centroids).select(col("_vid").as(idCol), col("_cid").as("cluster"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with
    * [[kMeans]], then within each cluster mark as redundant every vector
    * whose cosine to a SMALLER-id cluster-mate reaches `threshold`.
    * Output: (idCol, cluster, keep) — "keep one representative per
    * semantic duplicate group, scoped to clusters".
    *
    * The clustering is the scale device: pairwise comparison happens only
    * INSIDE a cluster (join keyed on the cluster id), so the quadratic
    * term is Σ cluster-size² instead of corpus² — and because the seed
    * count scales with the corpus (every `centroidEvery`-th id), expected
    * cluster size stays ~`centroidEvery` as the corpus grows. Identical
    * vectors always share a cluster (identical distance chains, same
    * argmin), so exact-duplicate recall is 1; near-duplicate recall is
    * clipped at cluster boundaries — the standard SemDeDup trade-off.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroidEvery: Int = 64, iters: Int = 1,
                    threshold: Double = 0.99): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    // Assignments feed both sides of the pair join plus the output —
    // materialize once rather than re-running the kMeans rounds per use.
    val clusters = kMeans(corpus, idCol, vecCol, centroidEvery, iters)
      .cutLineageEager()
    val members = corpus
      .select(col(idCol).as("_id"), col(vecCol).as("_v"),
        norm(col(vecCol)).as("_nm"))
      .join(clusters.select(col(idCol).as("_id"), col("cluster")), Seq("_id"))
    val redundant = members.as("a")
      .join(members.as("b"),
        col("a.cluster") === col("b.cluster") && col("a._id") < col("b._id"))
      .filter(dot(col("a._v"), col("b._v")) /
        (col("a._nm") * col("b._nm")) >= threshold)
      .select(col("b._id").as("_id")).distinct()
    clusters.join(redundant.withColumn("_drop", lit(true))
        .withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("_drop"), lit(true)).as("keep"))
  }

  /** Global per-dimension INT8 scalar quantization — the embedding
    * storage/bandwidth scale path (4× smaller than float32 before any
    * product quantization): q = clamp(floor((x − min_d) · 255 / (max_d −
    * min_d))), with the per-dimension ranges computed corpus-wide. Output
    * is long form (idCol, pos, q) — integers, so cross-engine exact.
    *
    * Shape: one posexplode + (pos)-keyed min/max aggregate (map-side
    * combined, `dim` result rows), broadcast back over the exploded
    * corpus — map-only quantization, no corpus-sized shuffle. At 100 TB
    * the ranges table is computed once and reused for every batch.
    */
  def scalarQuantize(corpus: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val expl = corpus.select(col(idCol),
        posexplode(col(vecCol)).as(Seq("pos", "_x")))
      .withColumn("_x", col("_x").cast("double"))
    val ranges = expl.groupBy(col("pos"))
      .agg(min(col("_x")).as("_mn"), max(col("_x")).as("_mx"))
    expl.join(broadcast(ranges), Seq("pos"))
      .select(col(idCol), col("pos"),
        when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(lit(255), floor((col("_x") - col("_mn")) *
            lit(255.0) / (col("_mx") - col("_mn"))).cast("int")))
          .as("q"))
  }

  /** Per-(vector, subspace) rows for product quantization: vector
    * `_vid`'s j-th width-`dim/m` slice under subspace id `_sub` = j.
    */
  private def subVectors(corpus: DataFrame, idCol: String, vecCol: String,
                         m: Int, dim: Int): DataFrame = {
    val w = dim / m
    corpus.select(col(idCol).as("_vid"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(vecCol), s * lit(w) + lit(1), lit(w))))
        .as(Seq("_sub", "_sv")))
  }

  /** Nearest codebook entry per (vector, subspace): the exact double
    * distance chain with the smaller-cid tie-break — [[kMeans]]'s
    * assignment, keyed by subspace. */
  private def pqAssign(subvecs: DataFrame, codebook: DataFrame): DataFrame =
    subvecs.join(broadcast(codebook), Seq("_sub"))
      .withColumn("_d",
        dot(col("_sv"), col("_sv")) - lit(2.0) * dot(col("_sv"), col("_cv"))
          + dot(col("_cv"), col("_cv")))
      .groupBy(col("_vid"), col("_sub"))
      .agg((-max(struct(-col("_d"), -col("_cid"))).getField("col2"))
        .as("_cid"))

  /** Product-quantization codebooks (Jégou et al. 2011): the vector
    * space is split into `m` width-`dim/m` subspaces and each gets its
    * own k-means codebook — a vector then compresses to `m` small code
    * ids (the 100 TB memory story: 64 floats → 8 codes; the corpus
    * stores codes, scoring reconstructs from the broadcast codebook).
    *
    * Training is [[kMeans]]'s deterministic discipline, keyed by
    * subspace so all `m` codebooks train in ONE plan (no per-subspace
    * driver loop): id-sampled seeds (every `centroidEvery`-th vector's
    * subvector seeds subspace j's book, so all books share cid space but
    * differ in coordinates), exact double distance chains with
    * smaller-cid tie-breaks, per-dimension means ROUNDED to 6 decimals
    * each round — bit-identical on every engine and partitioning, which
    * is what lets a DuckDB oracle replay the whole chain. The same
    * in-plan modulus cap as [[kMeans]] pins per-subspace k once the
    * corpus outgrows `maxCentroidsPerSub`, keeping assignment O(n·k)
    * linear in n.
    *
    * `trainCap` bounds the TRAINING set: a deterministic md5-draw
    * (the q52 ppm device — `hashU32(id) · 10⁶ < rate_ppm · 2³²` with
    * `rate_ppm = min(10⁶, trainCap·10⁶ div n)`, integer-exact and
    * engine-replayable) keeps ~`trainCap` vectors for the iteration
    * loop, while encoding/assignment stay full-corpus. This flattens
    * the cap-crossing decade: without it each training round costs
    * O(n·k) with k pinned at `maxCentroidsPerSub`; with it the rounds
    * cost O(trainCap·k) — constant in n — and only the single final
    * assignment is corpus-sized. k-means on an ε-sample loses O(ε)
    * quantization quality, not correctness (codes are nearest-entry by
    * construction either way). `trainCap <= 0` disables sampling.
    *
    * Scale shape per round: assignment is map-only against the broadcast
    * codebook (m·k·(dim/m) = k·dim doubles — the same budget as one
    * [[kMeans]] centroid table); the update is one
    * (sub, cid, pos)-keyed average with map-side combine.
    *
    * Returns (`_sub`, `_cid`, `_cv`): subspace id, code id, code vector.
    */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, dim: Int = 64, centroidEvery: Int = 64,
              iters: Int = 2, maxCentroidsPerSub: Int = 1024,
              trainCap: Int = 65536): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val train =
      if (trainCap <= 0) corpus
      else {
        // rate_ppm = min(10⁶, trainCap·10⁶ div n): at rate 10⁶ the test
        // draw·10⁶ < 10⁶·2³² is a tautology (draw < 2³²), so small
        // corpora train in full; all arithmetic stays under 2⁶³.
        val rate = corpus.agg(count(lit(1)).as("_n"))
          .select(least(lit(1000000L),
            expr(s"${trainCap.toLong * 1000000L}L div _n")).as("_ppm"))
        corpus.crossJoin(broadcast(rate))
          .filter(graft.llm.Corpus.hashU32(col(idCol), "pqtrain:")
            * 1000000L < col("_ppm") * 4294967296L)
          .drop("_ppm")
      }
    val subvecs = subVectors(train, idCol, vecCol, m, dim)
    val mod = train.agg(
      greatest(lit(centroidEvery.toLong),
        ceil(count(lit(1)).cast("double") / maxCentroidsPerSub).cast("long"))
        .as("_every"))
    var codebook = subvecs.crossJoin(broadcast(mod))
      .filter(col("_vid") % col("_every") === 0)
      .select(col("_sub"), col("_vid").as("_cid"),
        transform(col("_sv"), x => x.cast("double")).as("_cv"))
    for (_ <- 0 until iters) {
      codebook = pqAssign(subvecs, codebook)
        .join(subvecs, Seq("_vid", "_sub"))
        .select(col("_sub"), col("_cid"),
          posexplode(col("_sv")).as(Seq("_pos", "_x")))
        .groupBy(col("_sub"), col("_cid"), col("_pos"))
        .agg(round(avg(col("_x").cast("double")), 6).as("_m"))
        .groupBy(col("_sub"), col("_cid"))
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m")).as("_cv"))
        // m·k rows — materialize so each round's broadcast doesn't
        // re-run every previous round's lineage.
        .cutLineageEager()
    }
    codebook
  }

  /** PQ codes per vector under a trained codebook: (idCol, codes) with
    * `codes(j)` = subspace j's nearest code id. The storage form — at
    * 100 TB this array of m ids IS the vector table. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, m: Int = 8, dim: Int = 64): DataFrame =
    pqAssign(subVectors(corpus, idCol, vecCol, m, dim), codebook)
      .groupBy(col("_vid"))
      .agg(transform(array_sort(collect_list(struct(col("_sub"), col("_cid")))),
        s => s.getField("_cid")).as("codes"))
      .select(col("_vid").as(idCol), col("codes"))

  /** PQ top-k, two-stage (the production shape): an asymmetric-distance
    * SHORTLIST over the compressed corpus, then an exact re-rank of the
    * shortlist against raw vectors. The ADC stage scores queries against
    * the RECONSTRUCTED corpus (each vector replaced by its per-subspace
    * code vectors, concatenated) — algebraically identical to the
    * classic per-subspace lookup-table sum, but expressed as the same
    * exact double chain [[bruteForceKnn]]/[[kMeans]] use, so both
    * stages' rankings are engine-deterministic. Output:
    * (qid, rank, neighbor_id).
    *
    * Scale shape: train touches the corpus `iters+1` times (codebook is
    * k·dim doubles, broadcast); the shortlist stage reads CODES (m ids
    * per vector) plus the broadcast codebook — one (vid)-keyed
    * reassembly shuffle, then the broadcast-query scan (q35's intended
    * tiny-query nested loop, whitelisted). The re-rank touches raw
    * vectors for only |queries|·`shortlist` ids — a broadcast semi-join
    * against the corpus, never a second full scan's worth of compute.
    * At production scale codebook+codes live in storage
    * ([[writeIvfIndex]]'s discipline) and only shortlist+re-rank run
    * per query batch.
    */
  def pqKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
            vecCol: String, k: Int = 10, shortlist: Int = 50, m: Int = 8,
            dim: Int = 64, centroidEvery: Int = 64,
            iters: Int = 2, trainCap: Int = 65536): DataFrame = {
    val codebook = trainPq(corpus, idCol, vecCol, m, dim, centroidEvery,
      iters, trainCap = trainCap)
    val recon = pqAssign(subVectors(corpus, idCol, vecCol, m, dim), codebook)
      .join(broadcast(codebook), Seq("_sub", "_cid"))
      .groupBy(col("_vid"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("_sub"), col("_cv")))),
        s => s.getField("_cv"))).as("_rv"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("_qv"))
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("_d").asc, col("_vid").asc)
    val cand = recon.join(broadcast(q), col("_vid") =!= col("qid"))
      .withColumn("_d",
        dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_rv"))
          + dot(col("_rv"), col("_rv")))
      .withColumn("_rn", row_number().over(wAdc))
      .filter(col("_rn") <= shortlist)
      .select(col("qid"), col("_qv"), col("_vid"))
    val raw = corpus.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("_de").asc, col("_vid").asc)
    raw.join(broadcast(cand), Seq("_vid"))
      .withColumn("_de",
        dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_v"))
          + dot(col("_v"), col("_v")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("_vid").as("neighbor_id"))
  }

  /** Materialize a PQ index: the trained codebook plus the corpus's
    * codes — after this, the raw vectors never need re-reading for
    * search (the 32× storage story: 8 code ids replace 64 floats; keep
    * the raw table only if exact re-rank is wanted).
    */
  def writePqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   dir: String, m: Int = 8, dim: Int = 64,
                   centroidEvery: Int = 64, iters: Int = 2,
                   trainCap: Int = 65536): Unit = {
    val codebook = trainPq(corpus, idCol, vecCol, m, dim, centroidEvery,
      iters, trainCap = trainCap)
    codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    pqEncode(corpus, idCol, vecCol, codebook, m, dim)
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Incremental PQ ingest: encode a NEW batch against the STORED
    * codebook and append its codes — the [[appendToIvfIndex]] sign-once
    * discipline for compressed vectors. The codebook stays frozen
    * (retrain on drift, not per batch), so a batch costs one map-only
    * assignment against the broadcast codebook plus a codes append; the
    * indexed corpus is never re-read or re-trained, and identical
    * vectors encode to identical codes whenever they arrive.
    */
  @deprecated("blind append DUPLICATES a redelivered batch — use the " +
    "replay-safe writeIvfPqShard(batch, …, batchId) form", "round 15")
  def appendToPqIndex(batch: DataFrame, idCol: String, vecCol: String,
                      dir: String, m: Int = 8, dim: Int = 64): Unit = {
    val spark = batch.sparkSession
    // A fresh ingest session may not have run trainPq/pqKnnIndexed yet —
    // pqAssign's graft_dot must be registered here too.
    graft.functions.NativeExpressions.register(spark)
    val codebook = graft.Tables.parquet(spark, s"$dir/codebook")
    pqEncode(batch, idCol, vecCol, codebook, m, dim)
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** ADC top-k over a materialized [[writePqIndex]] index: reconstruct
    * from stored codes + broadcast codebook, score the broadcast query
    * batch, rank. Codes-only — the shortlist stage of [[pqKnn]] against
    * storage; compose with an exact re-rank over the raw table when
    * recall above the codes' resolution is needed.
    *
    * O(corpus) PER PROBE: the codes table is unpartitioned, so every
    * query batch reconstructs every stored vector. The at-scale serving
    * path is [[writeIvfPqIndex]] + [[ivfPqKnnIndexed]], which partition
    * the codes by coarse list and reconstruct only the probed lists —
    * keep this form for corpus-wide sweeps (full ADC rankings), not
    * query serving.
    */
  def pqKnnIndexed(queries: DataFrame, idCol: String, vecCol: String,
                   dir: String, k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val codebook = graft.Tables.parquet(spark, s"$dir/codebook")
    val recon = graft.Tables.parquet(spark, s"$dir/codes")
      .select(col(idCol).as("_vid"),
        posexplode(col("codes")).as(Seq("_sub", "_cid")))
      .join(broadcast(codebook), Seq("_sub", "_cid"))
      .groupBy(col("_vid"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("_sub"), col("_cv")))),
        s => s.getField("_cv"))).as("_rv"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("_qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_d").asc, col("_vid").asc)
    recon.join(broadcast(q), col("_vid") =!= col("qid"))
      .withColumn("_d",
        dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_rv"))
          + dot(col("_rv"), col("_rv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("_vid").as("neighbor_id"))
  }

  /** Materialize the COMBINED IVF+PQ index — the deployed 100 TB ANN
    * shape ([[ivfInt8Knn]]'s composition, persisted): a frozen coarse
    * quantizer (`centroids/` — [[centroidsOf]]'s deterministic
    * id-sample), the PQ codebook (`codebook/` — [[trainPq]]'s rounded
    * k-means, m·k rows), and the corpus compressed to m code ids per
    * vector, PARTITIONED BY its coarse list id (`codes/_cid=…/`).
    * [[pqKnnIndexed]]'s unpartitioned codes table made every probe
    * reconstruct the WHOLE corpus; here a query batch reads only its
    * probed lists' code partitions — per-query cost nprobe/|centroids|
    * of the corpus, at 8 bytes of code per 256 bytes of raw vector.
    *
    * Build cost: one centroid sample + `iters` bounded training rounds
    * + one corpus-scan encode and one corpus-scan coarse assignment
    * (both map-only against broadcast tables), then a single
    * partitioned write. The raw vector table is NOT stored — exact
    * rerank (the optional [[ivfPqKnnIndexed]] stage) takes the source
    * corpus as an argument, touching only |queries|·shortlist rows. */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      dir: String, m: Int = 8, dim: Int = 64,
                      centroidEvery: Int = 64, pqCentroidEvery: Int = 8,
                      iters: Int = 2, trainCap: Int = 65536): Unit = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val centroids = centroidsOf(corpus, idCol, vecCol, centroidEvery)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val codebook = trainPq(corpus, idCol, vecCol, m, dim, pqCentroidEvery,
      iters, trainCap = trainCap)
    codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    val assigned = nearest(corpus, centroids, idCol, vecCol,
        "_vid", "_av", "_an", keep = 1)
      .select(col("_vid").as(idCol), col("_cid"))
    pqEncode(corpus, idCol, vecCol, codebook, m, dim)
      .join(assigned, Seq(idCol))
      .write.mode("overwrite").partitionBy("_cid").parquet(s"$dir/codes")
  }

  /** One micro-batch's shard of a stream-built IVF+PQ codes table: the
    * batch encodes against the FROZEN stored codebook, coarse-assigns
    * against the FROZEN stored centroids, and lands under
    * `codes/batch_id=<id>/_cid=…/` with dynamic partition overwrite —
    * the replay-safe twin of [[appendToPqIndex]] (whose blind append
    * duplicates a redelivered batch). [[ivfPqKnnIndexed]] serves both
    * layouts unchanged: its `_cid` isin filter partition-prunes at
    * whichever level the column lives. */
  def writeIvfPqShard(batch: DataFrame, idCol: String, vecCol: String,
                      dir: String, batchId: Long, m: Int = 8,
                      dim: Int = 64): Unit = {
    val spark = batch.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    val codebook = graft.Tables.parquet(spark, s"$dir/codebook")
    val assigned = nearest(batch, centroids, idCol, vecCol,
        "_vid", "_av", "_an", keep = 1)
      .select(col("_vid").as(idCol), col("_cid"))
    val rows = pqEncode(batch, idCol, vecCol, codebook, m, dim)
      .join(assigned, Seq(idCol))
      .withColumn("batch_id", lit(batchId))
    graft.sources.ShardStore.overwritePartitions(rows, s"$dir/codes",
      Seq("batch_id", "_cid"))
  }

  /** ANN over a materialized [[writeIvfPqIndex]] index — coarse probe →
    * PARTITION-PRUNED asymmetric-distance scoring over the probed
    * lists' codes only → optional exact rerank against the raw corpus:
    *  1. queries probe the `nprobe` nearest stored centroids
    *     ([[ivfKnnIndexed]]'s device — the probed list ids collect to
    *     the driver and push down as an isin partition filter);
    *  2. ONLY the probed `_cid=` code partitions are read and
    *     reconstructed against the broadcast codebook — the ADC stage
    *     touches nprobe/|centroids| of the corpus where
    *     [[pqKnnIndexed]] reconstructed all of it;
    *  3. the per-query ADC `shortlist` (deterministic d-then-id order)
    *     optionally reranks EXACTLY against `rerank` (the raw vector
    *     table) via a broadcast semi-join of |queries|·shortlist ids —
    *     never a second corpus scan. With `rerank = None` the ADC
    *     ranks serve directly (codes-only deployment).
    * Output: (qid, rank, neighbor_id). */
  def ivfPqKnnIndexed(queries: DataFrame, idCol: String, vecCol: String,
                      dir: String, rerank: Option[DataFrame] = None,
                      k: Int = 10, nprobe: Int = 4,
                      shortlist: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    val probed = nearest(queries, centroids, idCol, vecCol,
      "qid", "_qv", "_qn", keep = nprobe)
      .cutLineageEager() // probes feed both the cid set and the join
    val cids = probed.select(col("_cid").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val recon = reconProbed(spark, dir, idCol, cids)
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("_d").asc, col("_vid").asc)
    val adc = probed.join(recon, Seq("_cid"))
      .filter(col("_vid") =!= col("qid"))
      .withColumn("_d",
        dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_rv"))
          + dot(col("_rv"), col("_rv")))
      .withColumn("_rn", row_number().over(wAdc))
    rerank match {
      case None =>
        adc.filter(col("_rn") <= k)
          .select(col("qid"), col("_rn").as("rank"),
            col("_vid").as("neighbor_id"))
      case Some(raw) =>
        val cand = adc.filter(col("_rn") <= shortlist)
          .select(col("qid"), col("_qv"), col("_vid"))
        val wExact = Window.partitionBy(col("qid"))
          .orderBy(col("_de").asc, col("_vid").asc)
        raw.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
          .join(broadcast(cand), Seq("_vid"))
          .withColumn("_de",
            dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_v"))
              + dot(col("_v"), col("_v")))
          .withColumn("rank", row_number().over(wExact))
          .filter(col("rank") <= k)
          .select(col("qid"), col("rank"), col("_vid").as("neighbor_id"))
    }
  }

  /** ONE-PASS serve of the whole (nprobe × {ADC-only, exact-rerank})
    * grid over a [[writeIvfPqIndex]] index — the recall-tuning table's
    * serving shape. Eight independent [[ivfPqKnnIndexed]] calls would
    * probe, partition-read, and reconstruct eight times; the grid
    * probes ONCE at max(nprobes) keeping each list's probe rank, runs
    * the ADC reconstruction ONCE over the union of probed lists, and
    * derives every cell by re-ranking the `probe rank <= nprobe`
    * prefix (an 8-row broadcast non-equi join + one (qid, nprobe)
    * window; the rerank side is one broadcast semi-join against the
    * raw table for ALL cells together). Per-query cost is the
    * max-nprobe serve, not the sum over cells.
    * Output: (qid, rank, neighbor_id, nprobe, reranked). */
  def ivfPqKnnGrid(queries: DataFrame, idCol: String, vecCol: String,
                   dir: String, rerank: DataFrame, k: Int = 10,
                   nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                   shortlist: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    val maxProbe = nprobes.max
    // nearest()'s probe pass with the probe RANK kept — the rank is
    // what lets one ADC pass serve every nprobe prefix.
    val probed = nearest(queries, centroids, idCol, vecCol,
      "qid", "_qv", "_qn", keep = maxProbe, rankCol = Some("_pr"))
      .select(col("qid"), col("_qv"), col("_cid"), col("_pr"))
      .cutLineageEager() // feeds both the cid set and the ADC join
    val cids = probed.select(col("_cid").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val recon = reconProbed(spark, dir, idCol, cids)
    val adc = probed.join(recon, Seq("_cid"))
      .filter(col("_vid") =!= col("qid"))
      .withColumn("_d",
        dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_rv"))
          + dot(col("_rv"), col("_rv")))
    val wCell = Window.partitionBy(col("qid"), col("nprobe"))
      .orderBy(col("_d").asc, col("_vid").asc)
    val ranked = adc
      .join(broadcast(nprobes.toDF("nprobe")), col("_pr") <= col("nprobe"))
      .withColumn("_rn", row_number().over(wCell))
    val adcTop = ranked.filter(col("_rn") <= k)
      .select(col("qid"), col("_rn").as("rank"),
        col("_vid").as("neighbor_id"), col("nprobe"),
        lit(false).as("reranked"))
    val cand = ranked.filter(col("_rn") <= shortlist)
      .select(col("qid"), col("nprobe"), col("_qv"), col("_vid"))
    val wExact = Window.partitionBy(col("qid"), col("nprobe"))
      .orderBy(col("_de").asc, col("_vid").asc)
    val rerTop = rerank.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
      .join(broadcast(cand), Seq("_vid"))
      .withColumn("_de",
        dot(col("_qv"), col("_qv")) - lit(2.0) * dot(col("_qv"), col("_v"))
          + dot(col("_v"), col("_v")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("_vid").as("neighbor_id"),
        col("nprobe"), lit(true).as("reranked"))
    adcTop.unionByName(rerTop)
  }

  /** An operating point picked off the recall grid. */
  final case class NprobeChoice(nprobe: Int, reranked: Boolean,
                                meanRecallPpm: Long, met: Boolean)

  /** The operator knob the recall-vs-nprobe table exists to set, made
    * mechanical: given the [[ivfPqKnnGrid]] audit output joined to
    * recall (the q238 table — per-query rows carrying `nprobe`,
    * `reranked`, `recall_ppm`), return the CHEAPEST {nprobe, rerank}
    * cell whose MEAN recall meets `recallTargetPpm`.
    *
    * Cost order: probe depth first, ADC-only before reranked at equal
    * depth — every +nprobe multiplies the partition-pruned list read
    * (the corpus-side cost), while the rerank adds only a
    * shortlist-sized exact-distance join (query-side). A DEGENERATE
    * target above every cell's recall returns the best-recall cell
    * (ties toward deepest + reranked) with `met = false` — the caller
    * sees the grid cannot reach the target instead of silently getting
    * the deepest cell as if it did.
    *
    * Driver-side by design: the per-cell aggregate collapses the table
    * to one row per grid cell (|nprobes| × 2 — an 8-row collect for
    * the q238 axes), the bounded-metadata class every other index
    * probe uses. The documented ADC-only recall dip at deep probes is
    * handled naturally — the scan just skips cells below target,
    * whatever their depth. */
  def tuneNprobe(grid: DataFrame, recallTargetPpm: Long): NprobeChoice = {
    val cells = grid
      .groupBy(col("nprobe"), col("reranked"))
      .agg(avg(col("recall_ppm")).cast("long").as("_r"))
      .collect()
      .map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2)))
    require(cells.nonEmpty, "empty recall grid")
    cells.sortBy { case (np, rr, _) => (np, rr) }
      .find { case (_, _, r) => r >= recallTargetPpm } match {
      case Some((np, rr, r)) => NprobeChoice(np, rr, r, met = true)
      case None =>
        val (np, rr, r) = cells.maxBy { case (np2, rr2, r2) => (r2, np2, rr2) }
        NprobeChoice(np, rr, r, met = false)
    }
  }

  /** LSH-bucketed ANN: same-bucket candidates from L tables, union,
    * exact cosine rerank to top-k. Output: (qid, rank, neighbor_id, sim).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int = 10, dim: Int = 64,
             tables: Int = 8, bitsPerTable: Int = 4): DataFrame = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val ps = planes(dim, tables, bitsPerTable)
    def withBuckets(df: DataFrame, id: String, vec: String, nrm: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
        norm(col(vecCol)).as(nrm),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), bucket(col(vecCol), ps(t)).as("bk"))): _*))
          .as("_tb"))
        .select(col(id), col(vec), col(nrm), col("_tb.t").as(s"${id}_t"),
          col("_tb.bk").as(s"${id}_bk"))

    val c = withBuckets(corpus, "neighbor_id", "_v", "_cn")
    val q = withBuckets(queries, "qid", "_qv", "_qn")
    // Dedupe multi-table collisions on the ID PAIR (first() carries the
    // vectors) — a distinct over the raw float arrays would shuffle and
    // compare the full payloads.
    val candidates = c.join(broadcast(q),
      col("neighbor_id_t") === col("qid_t") &&
        col("neighbor_id_bk") === col("qid_bk") &&
        col("neighbor_id") =!= col("qid"))
      .groupBy(col("qid"), col("neighbor_id"))
      .agg(first(col("_qv")).as("_qv"), first(col("_v")).as("_v"),
        first(col("_qn")).as("_qn"), first(col("_cn")).as("_cn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    candidates
      .withColumn("sim", dot(col("_qv"), col("_v")) / (col("_qn") * col("_cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Cross-modal alignment audit — the CLIP-style retrieval eval run
    * after any paired-modality embedding train (text↔image, audio↔
    * transcript): for each query id in modality A, rank EVERY modality-B
    * vector by exact cosine and report where the TRUE MATE (the same id
    * in B) landed. Output: (qid, mate_rank) — recall@k is
    * `mate_rank <= k` counted over queries, MRR is the mean of
    * 1/mate_rank; both left to one aggregate so the per-query table
    * stays joinable back to examples (the eval debugging loop).
    *
    * Unlike [[bruteForceKnn]] the self-id is NOT excluded — across
    * modalities the same id IS the positive. Deterministic: exact
    * double cosine, ties broken id-asc.
    *
    * Scale shape: one broadcast of the (sampled) query batch against a
    * single scan of modality B, one per-qid window over |B| candidate
    * rows — the eval baseline. At 100 TB the B side serves from an IVF
    * index instead ([[ivfKnnIndexed]] with mate-rank capped at the
    * probe depth — standard recall-at-probes reporting). */
  def crossModalMateRank(a: DataFrame, b: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    graft.functions.NativeExpressions.register(a.sparkSession)
    val q = a.select(col(idCol).as("qid"), col(vecCol).as("_qv"),
      norm(col(vecCol)).as("_qn"))
    val c = b.select(col(idCol).as("_bid"), col(vecCol).as("_bv"),
      norm(col(vecCol)).as("_bn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_sim").desc, col("_bid").asc)
    c.join(broadcast(q), lit(true))
      .withColumn("_sim",
        dot(col("_qv"), col("_bv")) / (col("_qn") * col("_bn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("_bid") === col("qid"))
      .select(col("qid"), col("rank").as("mate_rank"))
  }

  /** [[crossModalMateRank]] served from a persisted IVF index of
    * modality B — the at-scale form the brute-force eval's scaladoc
    * promises: each query probes its `nprobe` nearest lists and the
    * mate's rank is computed WITHIN the probed candidates
    * (recall-at-probes reporting — the standard production metric).
    * A mate outside the probed lists reports `mate_rank = NULL` (a
    * probe miss, counted against recall), never a wrong rank.
    * Output: (qid, mate_rank) with one row per query — left join
    * against the per-query candidate ranks keeps misses visible. */
  def crossModalMateRankIndexed(queries: DataFrame, idCol: String,
                                vecCol: String, dir: String,
                                nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.NativeExpressions.register(spark)
    val centroids = graft.Tables.parquet(spark, s"$dir/centroids")
    val probed = nearest(queries, centroids, idCol, vecCol,
      "qid", "_qv", "_qn", keep = nprobe)
      .cutLineageEager()
    val cids = probed.select(col("_cid").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val lists = graft.sources.ShardStore.live(spark, s"$dir/lists")
      .filter(col("_cid").isin(cids: _*))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_sim").desc, col("neighbor_id").asc)
    val ranked = probed.join(lists, Seq("_cid"))
      .withColumn("_sim",
        dot(col("_qv"), col("_v")) / (col("_qn") * col("_cn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("neighbor_id") === col("qid"))
      .select(col("qid"), col("rank").as("mate_rank"))
    queries.select(col(idCol).as("qid"))
      .join(ranked, Seq("qid"), "left")
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of two
    * ranked retrieval lists, integer-exact: each (qid, neighbor)
    * contributes `10⁶ div (c + rank)` per list it appears in, fused
    * rank is (score desc, neighbor asc). RRF needs only RANKS — no
    * score calibration between the lists — which is exactly why it
    * fuses a full-width ANN list with a truncated/quantized one (the
    * production "ensemble of cheap indexes" pattern) without touching
    * a float.
    *
    * Scale shape: a union of two already-top-k lists (|q|·k rows each),
    * one (qid, neighbor)-keyed aggregation, one qid-keyed window over
    * ≤ 2k rows per query. Cost lives entirely in the input retrievals.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, topK: Int = 5,
              c: Long = 60L): DataFrame = {
    val pool = a.select(col("qid"), col("neighbor_id"), col("rank"))
      .unionByName(b.select(col("qid"), col("neighbor_id"), col("rank")))
      .groupBy(col("qid"), col("neighbor_id"))
      .agg(sum(expr(s"1000000L div (${c}L + rank)")).as("rrf_ppm"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_ppm").desc, col("neighbor_id").asc)
    pool.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
      .select(col("qid"), col("fused_rank"), col("neighbor_id"),
        col("rrf_ppm"), col("n_lists"))
  }
}
