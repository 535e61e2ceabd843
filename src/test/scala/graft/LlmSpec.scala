package graft

import org.apache.spark.sql.functions._

import graft.llm.{Corpus, Dedup, Similarity}
import graft.operators.LlmQueries

class LlmSpec extends SparkSpec {

  test("minhash near-dup plan contains no cartesian product") {
    // Plan-shape variant: q33 itself returns an eagerly-materialized
    // checkpoint (so its plan is just a scan); the lazy builder exposes
    // the full candidate-generation lineage this test audits.
    val df = Dedup.minhashNearDupsPlan(
      graft.Tables.t(spark, sf, "documents"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in plan:\n$plan")
  }

  test("minhash near-dups finds the planted duplicate pairs at sf0.001") {
    val pairs = LlmQueries.queries("q33_minhash_neardup")(spark, sf).collect()
    // The driver's corpus plants near-identical docs; every reported pair
    // must actually exceed the threshold.
    pairs.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.8)
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
    }
  }

  test("minhash signatures: fixed length, identical inputs, distinct content") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("id", "text")
    val sigs = df.select(col("id"),
      Dedup.minhash(Dedup.shingles(col("text"))).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).size == 128)
    assert(sigs(1L) == sigs(2L)) // identical shingle sets → identical sig
    assert(sigs(1L) != sigs(3L))
  }

  test("exact dedup groups the synthesized copies") {
    val out = LlmQueries.queries("q32_exact_dedup")(spark, sf)
    val grouped = out.filter(col("group_size") > 1)
    assert(grouped.count() > 0, "no duplicate groups found")
    // Every synthesized copy (id >= 1000000) maps to its original.
    val bad = out.filter(col("doc_id") >= 1000000 &&
      col("canonical_id") =!= col("doc_id") - 1000000).count()
    assert(bad == 0)
  }

  test("dedupPipeline: exact-copy floods survive a bucket cap that would" +
    " silently drop them in raw near-dup") {
    import spark.implicits._
    // 200 exact copies of A and 200 of its near-dup A' (one word changed
    // out of 50 → jaccard ≈ 0.88): identical shingle sets share the same
    // bucket in EVERY band, so with a bucket cap of 50 the raw path drops
    // every A/A' pair — while the pipeline collapses each flood to one
    // representative first and still reports the canonical pair.
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val near = ((1 to 49).map(i => s"w$i") :+ "different").mkString(" ")
    val docs = ((1 to 200).map(i => (i.toLong, base)) ++
      (201 to 400).map(i => (i.toLong, near)) ++
      Seq((900L, "totally unrelated filler text about something else entirely")))
      .toDF("id", "text")
    val raw = Dedup.minhashNearDups(docs, "id", "text", maxBucketSize = 50)
    assert(raw.count() == 0, "cap should have dropped the flooded buckets")
    val piped = Dedup.dedupPipeline(docs, "id", "text", maxBucketSize = 50)
      .collect()
    assert(piped.length == 1)
    assert(piped.head.getAs[Long]("d1") == 1L &&
      piped.head.getAs[Long]("d2") == 201L)
    assert(piped.head.getAs[Double]("jaccard") >= 0.8)
  }

  test("simhash: near-identical docs have close signatures") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val sig = Dedup.simhash(docs, "doc_id", "text", bits = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(2L)) < hamming(sig(1L), sig(3L)),
      s"signatures: $sig")
    assert(sig.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("LSH ANN recall vs brute force is substantial on sf0.001") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceKnn(e, q, "vec_id", "embedding", k = 10)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val lsh = Similarity.lshKnn(e, q, "vec_id", "embedding", k = 10)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recalls = bf.map { case (qid, truth) =>
      lsh.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.4, s"avg recall@10 = $avg — LSH candidates too sparse")
    // And the brute-force top-1 with a duplicate-grade sim must be found:
    // planted duplicate vectors share all sign buckets.
  }

  test("heavy hitters: exact top-k survives tiny capacity, evictions, repartition") {
    import spark.implicits._
    // 3 heavy tokens (600/300/200 occurrences) over a 400-unique-token
    // tail; capacity 10 forces constant MG evictions, and the margin
    // (200 ≫ N/capacity = 150) keeps the recounted top-3 exact. Run
    // under two different partitionings — the candidate SET may differ,
    // the output must not.
    val words = Seq.fill(600)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(200)("gamma") ++ (0 until 400).map(i => s"tail$i")
    val docs = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7L)).shuffle(words)
      .grouped(25).map(_.mkString(" ")).toSeq.toDF("text")
    val expect = Seq(("alpha", 600L, 1), ("beta", 300L, 2),
      ("gamma", 200L, 3))
    for (parts <- Seq(2, 11)) {
      val got = Corpus.heavyHitters(docs.repartition(parts), "text",
          k = 3, capacity = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      assert(got.toSeq == expect, s"parts=$parts: ${got.toSeq}")
    }
  }

  test("temperature rates: hand-computed sqrt shares, capped targets, exact rates") {
    import spark.implicits._
    // x: 9 tokens (1 doc); y: 100 tokens (10 docs of 10). sqrt weights
    // 3 and 10, sum 13, total 109, quarter budget 27.
    //   share_x = 3·10⁶ div 13 = 230769 (vs raw share 82568 — upweighted)
    //   target_x = min(9, 27·230769 div 10⁶) = 6; rate = 666666 ppm
    //   target_y = min(100, 27·769230 div 10⁶) = 20; rate = 200000 ppm
    val docs = (Seq(("x", Seq.tabulate(9)(i => s"t$i").mkString(" "))) ++
      Seq.tabulate(10)(d => ("y", Seq.tabulate(10)(i => s"w$d$i").mkString(" "))))
      .toDF("lang", "text")
    val got = Corpus.temperatureRates(docs, "lang",
        graft.llm.TextAnalysis.tokenCount(col("text")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(got("x") == ((1L, 9L, 3L, 230769L, 6L, 666666L)), s"x: $got")
    assert(got("y") == ((10L, 100L, 10L, 769230L, 20L, 200000L)), s"y: $got")
  }

  test("PQ: duplicates share codes, codebooks partition subspaces, rerank recall holds") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.t(spark, sf, "embeddings")
    val cb = Similarity.trainPq(e, "vec_id", "embedding", centroidEvery = 8)
    // Codebook shape: 8 subspaces, width-8 code vectors, shared cid space.
    val bySubs = cb.groupBy(col("_sub")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bySubs.keySet == (0 until 8).toSet, s"subspaces: $bySubs")
    assert(cb.select(size(col("_cv"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(8))
    // An exact duplicate vector must encode to identical codes: same
    // distance chains, same smaller-cid tie-break, per subspace.
    val dup = e.filter(col("vec_id") === 1).withColumn("vec_id", lit(9001L))
    val codes = Similarity.pqEncode(e.unionByName(dup), "vec_id",
        "embedding", cb)
      .filter(col("vec_id").isin(1L, 9001L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(1L) == codes(9001L), s"codes: $codes")
    assert(codes(1L).size == 8)
    // Two-stage recall vs the exact L2 ground truth (pqKnn ranks by L2,
    // not cosine — bruteForceKnn is the wrong yardstick here).
    val q = e.filter(col("vec_id") % 100 === 0)
    val qq = q.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("_d").asc, col("nid").asc)
    val exact = e.select(col("vec_id").as("nid"), col("embedding").as("v"))
      .join(broadcast(qq), col("nid") =!= col("qid"))
      .withColumn("_d",
        Similarity.dot(col("qv"), col("qv"))
          - lit(2.0) * Similarity.dot(col("qv"), col("v"))
          + Similarity.dot(col("v"), col("v")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val pq = Similarity.pqKnn(e, q, "vec_id", "embedding", k = 10,
        centroidEvery = 8)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recalls = exact.map { case (qid, truth) =>
      pq.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 = $avg — PQ shortlist too lossy")
  }

  test("PQ index: frozen-codebook append, code identity, independent ADC parity") {
    import spark.implicits._
    val e = graft.Tables.t(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    Similarity.writePqIndex(e, "vec_id", "embedding", dir, centroidEvery = 8)
    val codebook = spark.read.parquet(s"$dir/codebook")
    assert(codebook.select("_sub").distinct().count() == 8)
    val cbRows = codebook.count()
    // Append a batch containing an exact duplicate of vector 1 under a
    // new id: the frozen codebook must encode it to IDENTICAL codes, and
    // must itself stay untouched.
    val dup = e.filter(col("vec_id") === 1).withColumn("vec_id", lit(9001L))
    Similarity.appendToPqIndex(dup, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/codebook").count() == cbRows)
    val codes = spark.read.parquet(s"$dir/codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(codes(9001L) == codes(1L), "frozen codebook must re-sign identically")
    assert(codes.size == e.count() + 1)
    // Independent ADC parity: recompute the codes-only ranking in plain
    // Scala (same left-to-right double chains) and compare rank-for-rank.
    val books = codebook.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray)
      .toMap
    val recon = codes.map { case (vid, cs) =>
      vid -> cs.zipWithIndex.flatMap { case (cid, sub) =>
        books((sub, cid))
      }.toArray
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val queries = e.filter(col("vec_id") % 100 === 0)
    val qVecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val expected = qVecs.flatMap { case (qid, qv) =>
      recon.toSeq.filter(_._1 != qid)
        .map { case (vid, rv) =>
          (qid, vid, dotD(qv, qv) - 2.0 * dotD(qv, rv) + dotD(rv, rv)) }
        .sortBy { case (_, vid, d) => (d, vid) }
        .take(10).zipWithIndex
        .map { case ((_, vid, _), i) => (qid, i + 1, vid) }
    }.toSet
    val got = Similarity.pqKnnIndexed(queries, "vec_id", "embedding", dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected,
      s"indexed ADC diverges from the independent ranking: ${got.diff(expected).take(3)}")
  }

  test("IVF ANN recall vs brute force is substantial on sf0.001") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceKnn(e, q, "vec_id", "embedding", k = 10)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val ivf = Similarity.ivfKnn(e, q, "vec_id", "embedding", k = 10)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recalls = bf.map { case (qid, truth) =>
      ivf.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.4, s"avg recall@10 = $avg — IVF probes too sparse")
  }

  test("materialized IVF index: identical results, partition-pruned lists") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    try {
      Similarity.writeIvfIndex(e, "vec_id", "embedding", dir)
      val indexed = Similarity.ivfKnnIndexed(q, "vec_id", "embedding", dir)
      val inline = Similarity.ivfKnn(e, q, "vec_id", "embedding")
      // Same centroids, probes, rerank and tie-breaks → identical output.
      val a = indexed.select("qid", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val b = inline.select("qid", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(a == b, s"indexed=${a.size} inline=${b.size} diff=${a.diff(b).take(5)}")
      // The lists scan must partition-prune to the probed centroid ids
      // (plan-string check: AdaptiveSparkPlanExec hides its children from
      // collect()).
      val plan = indexed.queryExecution.executedPlan.toString
      assert("lists].*PartitionFilters: \\[_cid".r.findFirstIn(plan).isDefined,
        s"lists scan is not partition-pruned:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF index ingest: appended batch is probeable, quantizer frozen") {
    import spark.implicits._
    val e = graft.Tables.t(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    try {
      Similarity.writeIvfIndex(e, "vec_id", "embedding", dir)
      // Ingest batch: exact copies of three corpus vectors under fresh
      // ids — each lands in its original's list (same nearest centroid)
      // and must surface as a cosine-1.0 top hit for a matching query.
      val batch = e.filter(col("vec_id").isin(7L, 70L, 470L))
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      val batchN = batch.count()
      assert(batchN == 3, s"fixture drift: batch has $batchN rows")
      val centroidsBefore = spark.read.parquet(s"$dir/centroids").collect()
        .map(_.toString).sorted.toSeq
      Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir)
      // Frozen quantizer: the centroid table is untouched by ingest.
      assert(spark.read.parquet(s"$dir/centroids").collect()
        .map(_.toString).sorted.toSeq == centroidsBefore)
      val q = e.filter(col("vec_id") === 7L)
      val hits = Similarity.ivfKnnIndexed(q, "vec_id", "embedding", dir)
        .collect().map(r => r.getAs[Long]("neighbor_id") ->
          r.getAs[Double]("sim")).toMap
      assert(hits.contains(9000007L),
        s"appended vector not probeable; hits=${hits.keySet}")
      assert(hits(9000007L) > 0.999999, s"clone sim ${hits(9000007L)}")
      // And the ingest did not duplicate or disturb existing list rows:
      // total list rows = corpus + batch.
      assert(spark.read.parquet(s"$dir/lists").count() == e.count() + batchN)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF+PQ index: pruned ADC serve ≡ independent ranking, codes partition-pruned") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    try {
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", dir,
        centroidEvery = 8, pqCentroidEvery = 8)
      def dotD(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }; s
      }
      // Independent plain-Scala replay of the whole serve: probe the 4
      // cosine-nearest stored centroids (cid-asc tie-break), ADC over
      // ONLY those lists' codes, shortlist 50, exact rerank top-10.
      val cents = spark.read.parquet(s"$dir/centroids").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val books = spark.read.parquet(s"$dir/codebook").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      val stored = spark.read.parquet(s"$dir/codes").collect()
        .map(r => (r.getLong(0),
          r.getSeq[Long](1).toSeq,
          r.getAs[Number]("_cid").longValue()))
      val raw = e.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toMap
      val qVecs = q.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val expected = qVecs.flatMap { case (qid, qv) =>
        val qn = math.sqrt(dotD(qv, qv))
        val probed = cents
          .map { case (cid, cv) =>
            (cid, dotD(qv, cv) / (qn * math.sqrt(dotD(cv, cv)))) }
          .sortBy { case (cid, sim) => (-sim, cid) }.take(4)
          .map(_._1).toSet
        stored.filter(c => probed.contains(c._3) && c._1 != qid)
          .map { case (vid, cs, _) =>
            val rv = cs.zipWithIndex
              .flatMap { case (cid, sub) => books((sub, cid)) }.toArray
            (vid, dotD(qv, qv) - 2.0 * dotD(qv, rv) + dotD(rv, rv))
          }
          .sortBy { case (vid, d) => (d, vid) }.take(50)
          .map { case (vid, _) =>
            val v = raw(vid)
            (vid, dotD(qv, qv) - 2.0 * dotD(qv, v) + dotD(v, v))
          }
          .sortBy { case (vid, de) => (de, vid) }.take(10).zipWithIndex
          .map { case ((vid, _), i) => (qid, i + 1, vid) }
      }.toSet
      val served = Similarity.ivfPqKnnIndexed(q, "vec_id", "embedding",
        dir, rerank = Some(e), nprobe = 4)
      val got = served.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == expected,
        s"pruned serve diverges: extra=${got.diff(expected).take(3)} " +
          s"missing=${expected.diff(got).take(3)}")
      // The codes scan must partition-prune to the probed list ids —
      // the fix for pqKnnIndexed's O(corpus)-per-probe reconstruction.
      val plan = served.queryExecution.executedPlan.toString
      assert("codes].*PartitionFilters: \\[_cid".r.findFirstIn(plan).isDefined,
        s"codes scan is not partition-pruned:\n$plan")
      // Codes-only mode (no rerank): ranks come straight from the ADC
      // shortlist ordering.
      val adcOnly = Similarity.ivfPqKnnIndexed(q, "vec_id", "embedding",
        dir, rerank = None, k = 5, nprobe = 4).collect()
      assert(adcOnly.nonEmpty && adcOnly.forall(_.getInt(1) <= 5))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF+PQ recall vs nprobe: reranked recall non-decreasing in " +
    "probe depth; exact rerank never loses to ADC-only at any depth") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 20 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_recall").toString
    try {
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", dir,
        centroidEvery = 8, pqCentroidEvery = 8)
      val exact = Similarity.bruteForceKnn(e, q, "vec_id", "embedding",
        k = 10).localCheckpoint()
      val probes = Seq(1, 2, 4, 8)
      // The LAW tying the one-pass grid to the plain serve: every
      // (nprobe, reranked) cell of ivfPqKnnGrid is EXACTLY the rows an
      // independent ivfPqKnnIndexed call at that configuration returns.
      val grid = Similarity.ivfPqKnnGrid(q, "vec_id", "embedding", dir,
        rerank = e, k = 10, nprobes = probes).collect()
        .map(r => (r.getInt(3), r.getBoolean(4)) ->
          (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for { np <- probes; rer <- Seq(false, true) } {
        val solo = Similarity.ivfPqKnnIndexed(q, "vec_id", "embedding",
            dir, rerank = if (rer) Some(e) else None, k = 10, nprobe = np)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .toSet
        assert(grid((np, rer)) == solo,
          s"grid cell (nprobe=$np, rerank=$rer) diverges from the " +
            s"independent serve: extra=${grid((np, rer)).diff(solo).take(3)} " +
            s"missing=${solo.diff(grid((np, rer))).take(3)}")
      }
      // Σ n_hits over all queries = mean recall up to the constant
      // |q|·k — integer, so the curve compares exactly.
      val exactSet = exact.collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val table = (for { np <- probes; rer <- Seq(false, true) } yield
        (np, rer) -> grid((np, rer))
          .count { case (qid, _, nid) => exactSet((qid, nid)) }.toLong).toMap
      // The RERANKED curve must be non-decreasing: deeper probes can
      // only widen the exact-reranked candidate pool. The ADC-only
      // curve is NOT asserted monotone — more probes admit more
      // quantization-error impostors into the codes-only top-10 (the
      // sf0.001 fixture demonstrably dips at nprobe=8), which is
      // precisely what the q238 tuning table exists to expose.
      val reranked = probes.map(np => table((np, true)))
      assert(reranked.zip(reranked.tail).forall { case (a, b) => a <= b },
        s"reranked recall not monotone in nprobe: $reranked")
      assert(reranked.last > 0, "zero recall at nprobe=8 with rerank")
      probes.foreach { np =>
        assert(table((np, true)) >= table((np, false)),
          s"exact rerank lost to ADC-only at nprobe=$np: " +
            s"${table((np, true))} < ${table((np, false))}")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF+PQ shard ingest: frozen books, replayed shard is a no-op") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_shard").toString
    try {
      val seed = e.filter(col("vec_id") % 2 === 0)
      Similarity.writeIvfPqIndex(seed, "vec_id", "embedding", dir,
        centroidEvery = 8, pqCentroidEvery = 8)
      val baseCodes = spark.read.parquet(s"$dir/codes")
      // writeIvfPqIndex lands codes unsharded; re-land the base as
      // batch_id=0 so the stream form can extend it (static overwrite).
      val base = graft.Checkpoints.cutEager(
        baseCodes.withColumn("batch_id", lit(0L)))
      base.write.mode("overwrite").partitionBy("batch_id", "_cid")
        .parquet(s"$dir/codes")
      val batch = e.filter(col("vec_id") % 2 =!= 0)
      Similarity.writeIvfPqShard(batch, "vec_id", "embedding", dir,
        batchId = 1L)
      val n1 = spark.read.parquet(s"$dir/codes").count()
      assert(n1 == e.count(), s"codes rows $n1 != corpus ${e.count()}")
      // Replay batch 1: dynamic overwrite of its own shard — no growth,
      // bit-identical rows.
      val before = spark.read.parquet(s"$dir/codes")
        .collect().map(_.toString).sorted.toSeq
      Similarity.writeIvfPqShard(batch, "vec_id", "embedding", dir,
        batchId = 1L)
      val after = spark.read.parquet(s"$dir/codes")
        .collect().map(_.toString).sorted.toSeq
      assert(after == before, "replayed shard changed the codes table")
      // Frozen books: a duplicate vector encodes to its original's codes.
      val dup = e.filter(col("vec_id") === 2)
        .withColumn("vec_id", lit(9002L))
      Similarity.writeIvfPqShard(dup, "vec_id", "embedding", dir,
        batchId = 2L)
      val codes = spark.read.parquet(s"$dir/codes")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(codes(9002L) == codes(2L),
        "frozen codebook must re-sign identically")
      // Compaction: serve is bit-stable, shards collapse to one base,
      // and a replayed pre-horizon shard is dropped on read.
      val q = e.filter(col("vec_id") % 100 === 0)
      def serve() = Similarity.ivfPqKnnIndexed(q, "vec_id", "embedding",
          dir, rerank = None, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val preCompact = serve()
      Similarity.compactIvfPqShards(spark, dir)
      assert(serve() == preCompact, "compacted codes serve differently")
      assert(new java.io.File(s"$dir/codes").listFiles.map(_.getName)
        .count(_.startsWith("batch_id=")) == 1, "codes did not collapse")
      Similarity.writeIvfPqShard(batch, "vec_id", "embedding", dir,
        batchId = 1L)
      assert(serve() == preCompact,
        "replayed pre-horizon shard changed serving")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("cross-modal mate rank: indexed serve agrees with brute force " +
    "at full probe depth; shallow probes report misses as NULL") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val b = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 10) / 10).as("embedding"))
    val q = e.filter(col("vec_id") % 100 === 0)
    val dir = java.nio.file.Files.createTempDirectory("xmodal").toString
    try {
      Similarity.writeIvfIndex(b, "vec_id", "embedding", dir,
        centroidEvery = 8)
      val brute = Similarity.crossModalMateRank(q, b, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // Full probe depth = every list probed → candidate set is the
      // whole corpus → identical ranks.
      val nLists = spark.read.parquet(s"$dir/centroids").count().toInt
      val full = Similarity.crossModalMateRankIndexed(q, "vec_id",
          "embedding", dir, nprobe = nLists)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(full.forall { case (k, v) => v.contains(brute(k)) },
        s"full-depth indexed ranks diverge: $full vs $brute")
      // Shallow probes: every query still reports; a non-null rank is
      // computed within a candidate SUBSET, so it never exceeds the
      // brute rank; misses are NULL, not wrong numbers.
      val shallow = Similarity.crossModalMateRankIndexed(q, "vec_id",
          "embedding", dir, nprobe = 1)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(shallow.keySet == brute.keySet, "a query row went missing")
      shallow.foreach {
        case (k, Some(r)) => assert(r <= brute(k),
          s"candidate-subset rank $r exceeds global ${brute(k)} for $k")
        case _ => ()
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("embedding near-dup: bucket-join candidates, no all-pairs join") {
    val df = LlmQueries.queries("q42_embedding_neardup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
    // Planted identical-vector pairs are found at cosine 1.0.
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("cosine") >= 0.95))
  }

  test("brute-force knn: query side is broadcast (no shuffle of corpus)") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val df = Similarity.bruteForceKnn(e, e.filter(col("vec_id") % 100 === 0),
      "vec_id", "embedding", k = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"query side not broadcast:\n$plan")
  }

  test("simhash near-dup: banded join (no all-pairs) and EXACT recall" +
    " vs brute-force hamming over the signatures") {
    val docs = graft.Tables.t(spark, sf, "documents")
    for (bits <- Seq(32, 64, 128)) {
      val sig = Dedup.simhash(docs, "doc_id", "text", bits)
      val lazyPairs = Dedup.simhashNearDupsOf(sig, "doc_id", bits,
        maxHamming = 3, bands = 4)
      val plan = lazyPairs.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$plan")
      // Brute-force ground truth from the collected signatures: the
      // banded join must find EVERY pair at hamming <= 3 (pigeonhole: 4
      // bands, <= 3 flipped bits => >= 1 untouched band), with the right
      // distances — at 128 bits summed across both signature words.
      val words = Dedup.simhashWords(bits)
      val sigs = sig.collect()
        .map(r => r.getAs[Long]("doc_id") -> words.map(w => r.getAs[Long](w)))
      val expected = (for {
        (d1, s1) <- sigs; (d2, s2) <- sigs if d1 < d2
        h = s1.zip(s2).map { case (a, b) => java.lang.Long.bitCount(a ^ b) }
          .sum if h <= 3
      } yield (d1, d2, h)).toSet
      val got = lazyPairs.collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
          r.getAs[Int]("hamming"))).toSet
      assert(got == expected,
        s"$bits bits: missing=${expected -- got} spurious=${got -- expected}")
      assert(expected.nonEmpty || sigs.length < 2)
    }
  }

  test("stratified sample: deterministic, boundary-exact, map-only") {
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("lang"))
    val rates = Map("en" -> 0.1, "zh" -> 0.5)
    val s1 = llm.Corpus.stratifiedSample(docs, "doc_id", "lang", rates, 0.9)
    // No shuffle: the whole operator is a filter over the scan.
    val plan = s1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sample should be map-only:\n$plan")
    // Deterministic: same draw, same rows, twice.
    val a = s1.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    val b = llm.Corpus.stratifiedSample(docs, "doc_id", "lang", rates, 0.9)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(a == b && a.nonEmpty)
    // Every kept row's draw is under its stratum's rate.
    val bad = s1.withColumn("u", llm.Corpus.hashUnit(col("doc_id"), "sample:"))
      .filter(col("u") >= when(col("lang") === "en", 0.1)
        .when(col("lang") === "zh", 0.5).otherwise(0.9)).count()
    assert(bad == 0)
  }

  test("sequence packing: exclusive-prefix-sum bin assignment") {
    import spark.implicits._
    val docs = Seq((1L, "en", 100), (2L, "en", 100), (3L, "en", 100),
      (4L, "en", 300), (5L, "de", 50)).toDF("id", "lang", "n")
    val packed = llm.Corpus.packSequences(docs, "id", "lang",
      col("n"), budget = 256)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("seq_id")).toMap
    // en stream: prefixes 0,100,200,300 -> seqs 0,0,0,1; de restarts at 0.
    assert(packed == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
  }

  test("dedup index: batch probes find originals; index side not re-shuffled") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    try {
      Dedup.writeDedupIndex(docs, "doc_id", "text", "cidx")
      // Batch: near-copies (one appended token) of every 10th doc, plus
      // unrelated fresh docs that must match nothing.
      val nearCopies = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(col("text"), lit(" tailtok")).as("text"))
      val fresh = Seq((9000001L, "qa qb qc qd qe qf qg qh qi qj qk ql"))
        .toDF("doc_id", "text")
      val batch = nearCopies.unionByName(fresh)
      val hits = Dedup.dedupAgainstIndex(batch, "doc_id", "text",
        spark, "cidx", threshold = 0.8)
      val got = hits.collect()
        .map(r => r.getAs[Long]("new_id") -> r.getAs[Long]("index_id"))
      // Every near-copy pairs with its original (append-1-token jaccard
      // on 3-shingles of an n-token doc is (n-2)/(n+1) >= 0.8 for n >= 14;
      // sf0.001 docs all clear that), the fresh doc pairs with nothing.
      val expected = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id")).collect()
        .map(r => (r.getLong(0) + 5000000) -> r.getLong(0))
      assert(got.toSet.intersect(expected.toSet) == expected.toSet,
        s"missing pairs: ${expected.toSet -- got.toSet}")
      assert(!got.exists(_._1 == 9000001L), "fresh doc matched the index")
      hits.collect().foreach(r =>
        assert(r.getAs[Double]("jaccard") >= 0.8))
      // Scale shape: the candidate join shuffles ONLY the batch side into
      // the index's (_band, _bh) bucketing — one hashpartitioning
      // exchange on those keys, with the bucketed index scanned in place.
      // At test scale the planner would (correctly) broadcast the tiny
      // index instead, so broadcast is disabled to surface the plan this
      // layout exists for.
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val candPlan = Dedup.bandTable(
          Dedup.hashedShingles(batch, "doc_id", "text")).as("n")
          .join(spark.table("cidx_bands").as("i"),
            col("n._band") === col("i._band") && col("n._bh") === col("i._bh"))
          .queryExecution.executedPlan.toString
        val exchanges = "hashpartitioning\\(_band".r
          .findAllIn(candPlan).length
        assert(exchanges == 1,
          s"expected exactly 1 band-key exchange (batch side), got $exchanges:\n$candPlan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS cidx_bands")
      spark.sql("DROP TABLE IF EXISTS cidx_shingles")
    }
  }

  test("dedup index: append grows the index — the next batch matches " +
    "appended docs, and append == from-scratch rewrite") {
    import spark.implicits._
    val corpusA = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // Batch B: near-copies of every 20th doc under fresh ids; batch C:
    // near-copies OF B — C's hits on B exist only if B was admitted.
    val batchB = corpusA.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"),
        concat(col("text"), lit(" btok")).as("text"))
    val batchC = batchB
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" ctok")).as("text"))
    def hitSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("index_id"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    try {
      Dedup.writeDedupIndex(corpusA, "doc_id", "text", "gidx")
      Dedup.appendDedupIndex(batchB, "doc_id", "text", "gidx")
      val got = hitSet(Dedup.dedupAgainstIndex(batchC, "doc_id", "text",
        spark, "gidx", threshold = 0.8))
      // Every C doc must match its B twin (one appended token).
      val cToB = batchB.select(col("doc_id")).collect()
        .map(r => (r.getLong(0) + 1000000, r.getLong(0))).toSet
      val gotPairs = got.map(t => (t._1, t._2))
      assert(cToB.subsetOf(gotPairs),
        s"missing C->B pairs: ${cToB -- gotPairs}")
      // Equivalence: appending B == signing A ∪ B from scratch.
      Dedup.writeDedupIndex(corpusA.unionByName(batchB),
        "doc_id", "text", "fidx")
      val fromScratch = hitSet(Dedup.dedupAgainstIndex(batchC, "doc_id",
        "text", spark, "fidx", threshold = 0.8))
      assert(got == fromScratch,
        s"append diverged from rewrite: ${got diff fromScratch} / ${fromScratch diff got}")
    } finally Seq("gidx_bands", "gidx_shingles", "fidx_bands",
      "fidx_shingles").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("dedup index: corpus-self near-dups from the index alone match " +
    "minhashNearDups; band self-join is bucket-local") {
    import spark.implicits._
    val base = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // Plant near-dup structure: one-token-appended copies of every 10th
    // doc, so the pair set is non-trivial on both paths.
    val docs = base.unionByName(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"),
        concat(col("text"), lit(" tailtok")).as("text")))
    try {
      Dedup.writeDedupIndex(docs, "doc_id", "text", "ridx")
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
          math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
      val fromIndex = pairs(Dedup.indexNearDups(spark, "ridx"))
      val direct = pairs(Dedup.minhashNearDups(docs, "doc_id", "text"))
      assert(fromIndex == direct,
        s"index/direct diverge: only-index=${fromIndex -- direct} " +
          s"only-direct=${direct -- fromIndex}")
      assert(fromIndex.nonEmpty, "planted near-dups not found")
      // Scale shape: the band self-join reads the bucketed table in place
      // on BOTH sides — zero band-key exchanges in the plan (this is what
      // makes the dashboard form a no-reshuffle query at 100 TB). AQE
      // would broadcast the tiny test index; disable to surface the plan
      // this layout exists for.
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val b = spark.table("ridx_bands")
        val plan = b.as("l").join(b.as("r"),
            col("l._band") === col("r._band") &&
              col("l._bh") === col("r._bh") && col("l._id") < col("r._id"))
          .queryExecution.executedPlan.toString
        val exchanges = "hashpartitioning\\(_band".r.findAllIn(plan).length
        assert(exchanges == 0,
          s"band self-join should be bucket-local, got $exchanges exchanges:\n$plan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS ridx_bands")
      spark.sql("DROP TABLE IF EXISTS ridx_shingles")
    }
  }

  test("dedup index: explicit-path form — parity with the warehouse " +
    "default, re-attachable after a catalog wipe, still bucket-local") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(graft.Tables.t(spark, sf, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(col("text"), lit(" tailtok")).as("text")))
    val dir = java.nio.file.Files.createTempDirectory("dedupidx").toString
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        math.round(r.getAs[Double]("jaccard") * 1e9))).toSet
    try {
      Dedup.writeDedupIndex(docs, "doc_id", "text", "pidx",
        dir = Some(dir))
      val fromPath = pairs(Dedup.indexNearDups(spark, "pidx"))
      assert(fromPath == pairs(Dedup.minhashNearDups(docs, "doc_id", "text")))
      // Simulate a fresh session: drop the catalog entries (external
      // tables — data files stay), re-attach from the path, same pairs.
      spark.sql("DROP TABLE IF EXISTS pidx_bands")
      spark.sql("DROP TABLE IF EXISTS pidx_shingles")
      Dedup.openDedupIndex(spark, "pidx", dir = Some(dir))
      assert(pairs(Dedup.indexNearDups(spark, "pidx")) == fromPath,
        "re-attached index diverged")
      // The re-attached table must still carry the bucket spec — the
      // zero-exchange self-join is the point of the layout.
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val b = spark.table("pidx_bands")
        val plan = b.as("l").join(b.as("r"),
            col("l._band") === col("r._band") &&
              col("l._bh") === col("r._bh") && col("l._id") < col("r._id"))
          .queryExecution.executedPlan.toString
        assert("hashpartitioning\\(_band".r.findAllIn(plan).isEmpty,
          s"re-attached band self-join not bucket-local:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pidx_bands")
      spark.sql("DROP TABLE IF EXISTS pidx_shingles")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("train order: exact permutation, seed reshuffle, bucket-keyed window") {
    import graft.llm.Corpus
    val docs = graft.Tables.t(spark, sf, "documents").select(col("doc_id"))
    val n = docs.count()
    val ord = Corpus.trainOrder(docs, "doc_id")
    val pos = ord.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Positions are exactly the permutation 0..n-1, no gaps, no dups.
    assert(pos.values.toSet == (0L until n).toSet,
      s"positions are not a 0..${n - 1} permutation")
    // A different seed is a different epoch order.
    val pos2 = Corpus.trainOrder(docs, "doc_id", "ep1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pos != pos2, "epoch seeds produced the identical order")
    // Scale shape: the corpus-side rank window is keyed by the hash
    // bucket (256-way parallel), never a global single-partition window
    // over the corpus.
    val plan = ord.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(_bk".r.findFirstIn(plan).isDefined,
      s"rank window not partitioned by bucket:\n$plan")
  }

  test("decontamination: bench broadcast, corpus unshuffled before the join") {
    val df = LlmQueries.queries("q57_decontaminate")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench not broadcast:\n$plan")
    // Only the candidate-pair aggregation shuffles — the corpus reaches
    // the containment join map-side.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected only the pair-count exchange, got $exchanges:\n$plan")
    // Planted leaks: every bench doc (id >= 3000000) pairs its original.
    val pairs = df.collect().map(r =>
      (r.getAs[Long]("corpus_id"), r.getAs[Long]("bench_id"))).toSet
    val planted = graft.Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 97 === 0).select(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 3000000)).toSet
    assert(planted.subsetOf(pairs), s"missing: ${planted -- pairs}")
  }

  test("connected components: chains collapse, isolated nodes keep own id") {
    import spark.implicits._
    // A 6-node path (worst diameter case for label propagation — the
    // pointer-jump step must still converge inside maxRounds), one
    // triangle, one isolated node.
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (14L, 15L), (20L, 21L), (21L, 22L), (22L, 20L)).toDF("d1", "d2")
    val nodes = (Seq(30L) ++ (10L to 15L) ++ (20L to 22L)).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, "d1", "d2", nodes, "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id"))
      .toMap
    val expected = ((10L to 15L).map(_ -> 10L) ++
      (20L to 22L).map(_ -> 20L) ++ Seq(30L -> 30L)).toMap
    assert(got == expected)
  }

  test("mix rates: rate_ppm long division exact where naive T*10^6 overflows") {
    import spark.implicits._
    // ~25e12 total tokens (a ~100 TB corpus): the naive (total * 10^6)
    // exceeds Long.MaxValue, so this pins the base-1000 long-division
    // formula against BigInt ground truth in exactly the regime the
    // engine is designed for.
    // "c" is the killer case: a 1-token stratum in a ~45e12-token corpus
    // makes T div D ~ 1.5e13, so even (T div D)·10⁶ overflows a long —
    // only the T >= D cap branch answers it safely (the true value is
    // clamped to 10⁶ whenever T >= D, so no division is needed there).
    val strata = Seq(("a", 40000000000000L), ("b", 4999999999999L), ("c", 1L))
    val df = strata.toDF("lang", "n")
    val out = llm.Corpus.mixRates(df, "lang", col("n")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("rate_ppm")).toMap
    val total = BigInt(strata.map(_._2).sum)
    strata.foreach { case (l, n) =>
      val exp = (total * 1000000 / (BigInt(3) * n)).min(1000000).toLong
      assert(out(l) == exp, s"$l: got ${out(l)}, expected $exp")
    }
    assert(out("c") == 1000000L) // the capped tiny stratum, explicitly
  }

  test("oov: tokens outside the top-k vocab counted, full-vocab docs at zero") {
    import spark.implicits._
    // vocabSize 2 → vocab = {a, b} (a:4, b:3); c and d are OOV.
    val df = Seq((1L, "a b a b"), (2L, "a c d"), (3L, "b a")).toDF("doc_id", "text")
    val out = llm.Corpus.oovCounts(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("n_tokens"), r.getAs[Long]("n_oov"))).toMap
    assert(out == Map(1L -> (4, 0L), 2L -> (3, 2L), 3L -> (2, 0L)))
  }

  test("contamination ratio: overlap_ppm bounded and exact on a planted leak") {
    import spark.implicits._
    // Bench doc = corpus doc 1 + two extra tokens: all 6 corpus shingles
    // of doc 1 appear among the bench doc's 8 → ppm = 6e6 div 8 = 750000.
    val corpus = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val bench = Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8 e1 e2")).toDF("doc_id", "text")
    val out = llm.Corpus.contaminationRatio(corpus, bench, "doc_id", "text",
      minShared = 5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("corpus_id") == 1L)
    assert(r.getAs[Long]("n_shared") == 6L)
    assert(r.getAs[Int]("n_bench_shingles") == 8)
    assert(r.getAs[Long]("overlap_ppm") == 750000L)
  }

  test("component-best: max score wins, ties break to smallest id") {
    import spark.implicits._
    // Component 1: clear winner (id 3, score 9). Component 2: tie on
    // score → smallest id (20) wins. Singleton component keeps itself.
    val members = Seq(
      (1L, 1L, 5), (2L, 1L, 7), (3L, 1L, 9),
      (20L, 2L, 4), (21L, 2L, 4),
      (30L, 3L, 1)).toDF("doc_id", "component_id", "score")
    val out = Dedup.keepBestPerComponent(members, "doc_id", "component_id",
      col("score")).collect()
      .map(r => r.getAs[Long]("component_id") ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_members"))).toMap
    assert(out == Map(1L -> (3L, 3L), 2L -> (20L, 2L), 3L -> (30L, 1L)))
  }

  test("repeated spans: cross-doc verbatim spans counted, short docs dropped") {
    import spark.implicits._
    val shared = "s1 s2 s3 s4" // a 4-token span planted in docs 1 and 2
    val df = Seq(
      (1L, s"$shared a1 a2 a3"),
      (2L, s"b1 $shared b2"),
      (3L, "c1 c2 c3 c4 c5"),
      (4L, "d1 d2")) // shorter than the span width: no output row
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanStats(df, "doc_id", "text", spanTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))).toMap
    // doc1: 4 sliding windows, exactly one ("s1 s2 s3 s4") duplicated;
    // doc2: 3 windows, one duplicated; doc3: 2 windows, none; doc4 absent.
    assert(out == Map(1L -> (4L, 1L), 2L -> (3L, 1L), 3L -> (2L, 0L)))
    assert(!out.contains(4L))
  }

  test("weighted sample: ES max-of-w-tickets priorities match an " +
    "independent md5 reimplementation; weights clamp; ranks exact") {
    import spark.implicits._
    val df = Seq((1L, "a", 1L), (2L, "a", 3L), (3L, "a", 8L),
      (4L, "a", 99L), (5L, "b", 0L)).toDF("id", "st", "w0")
    val got = Corpus.weightedSample(df, "id", "st", col("w0"),
        k = 2, maxWeight = 8)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("weight"),
        r.getAs[Long]("priority"), r.getAs[Long]("pick_rank"))).toSet
    def u32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(8), 16)
    val wts = Map(1L -> 1L, 2L -> 3L, 3L -> 8L, 4L -> 8L, 5L -> 1L)
    def prio(id: Long) = (1L to wts(id)).map(j => u32(s"es:$id#$j")).max
    val aRanked = Seq(1L, 2L, 3L, 4L)
      .sortBy(id => (-prio(id), id)).take(2).zipWithIndex
      .map { case (id, i) => (id, wts(id), prio(id), i + 1L) }
    val exp = (aRanked :+ ((5L, 1L, prio(5L), 1L))).toSet
    assert(got == exp, s"got $got vs $exp")
  }

  test("repeated intervals: whole-copy docs yield ONE maximal island, " +
    "adjacent windows merge, gaps split, short docs drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),                    // full copy pair with 2
      (2L, "a b c d e f g h"),
      (3L, "z1 z2 a b c d z3 z4 z5 z6 z7 a b c d"), // two gapped islands
      (4L, "z7 z8 a b c d a b c d"),              // adjacent -> one island
      (5L, "q r s"))                              // sub-span: no output
      .toDF("doc_id", "text")
    val got = Dedup.repeatedIntervals(df, "doc_id", "text", spanTokens = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("island"),
        r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos"),
        r.getAs[Long]("n_windows"))).toSet
    assert(got == Set(
      // the long duplicate is ONE interval spanning the doc — the
      // merge a bounded-window count (5 windows) cannot express
      (1L, 1L, 0L, 8L, 5L), (2L, 1L, 0L, 8L, 5L),
      (3L, 1L, 2L, 6L, 1L), (3L, 2L, 11L, 15L, 1L),
      (4L, 1L, 2L, 10L, 2L)), s"got $got")
  }

  test("span excision: covered tokens cut in every copy, survivors " +
    "re-join in order, fully-excised and untouched docs both surface") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),                      // whole-copy pair:
      (2L, "a b c d e f g h"),                      //   both come back empty
      (3L, "z1 z2 a b c d z3 z4 z5 z6 z7 a b c d"), // two islands cut
      (4L, "q r s"))                                // untouched short doc
      .toDF("doc_id", "text")
    val got = Dedup.exciseRepeatedIntervals(df, "doc_id", "text",
        spanTokens = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"))).toSet
    assert(got == Set(
      (1L, "", 8L, 8L), (2L, "", 8L, 8L),
      (3L, "z1 z2 z3 z4 z5 z6 z7", 15L, 8L),
      (4L, "q r s", 3L, 0L)), s"got $got")
  }

  test("keep-canonical excision: each duplicated window survives only " +
    "in its min-id owner; ownership is per window, not per doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h"),      // owner of every shared window
      (2L, "a b c d e f g h"),      // full copy: empties
      (3L, "z1 z2 a b c d z3"))     // shares ONE window owned by doc 1
      .toDF("doc_id", "text")
    val got = Dedup.exciseKeepCanonical(df, "doc_id", "text",
        spanTokens = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"))).toSet
    assert(got == Set(
      (1L, "a b c d e f g h", 8L, 0L), // the cut-all form empties this too
      (2L, "", 8L, 8L),
      (3L, "z1 z2 z3", 7L, 4L)), s"got $got")
  }

  test("line dedup: planted boilerplate unit found, clean docs at zero") {
    import spark.implicits._
    val banner = "b1 b2 b3 b4" // one full 4-token unit when prepended
    val df = Seq(
      (1L, s"$banner w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, s"$banner x1 x2 x3 x4"),
      (3L, "y1 y2 y3 y4 y5 y6")).toDF("doc_id", "text")
    val out = Dedup.lineDupStats(df, "doc_id", "text", unitTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dup_lines"))).toMap
    // doc1: banner + 2 content units; doc2: banner + 1; doc3: 2 units
    // (y5 y6 is a short tail unit), none duplicated.
    assert(out(1L) == (3L, 1L), s"got ${out(1L)}")
    assert(out(2L) == (2L, 1L))
    assert(out(3L) == (2L, 0L))
  }

  test("line-dedup rebuild: dup lines dropped everywhere, order preserved") {
    import spark.implicits._
    // "a b" occurs in 3 distinct docs -> boilerplate; every instance
    // (including doc 3's two copies) is removed from the rebuilt text.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b x y"),
      (3L, "a b a b"),
      (4L, "p q r")). // odd length: "r" is a short tail line, kept
      toDF("doc_id", "text")
    val out = Dedup.removeDupLines(df, "doc_id", "text", unitTokens = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) == (3L, 2L, "c d e f"))
    assert(out(2L) == (2L, 1L, "x y"))
    assert(out(3L) == (2L, 0L, "")) // fully-boilerplate doc -> empty
    assert(out(4L) == (2L, 2L, "p q r"))
  }

  test("shingle novelty: first occurrence by min doc id, ppm exact") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = Seq(
      (1L, "a b c"),   // "a b", "b c" both first here
      (2L, "b c d"),   // "b c" seen in doc 1; "c d" novel
      (3L, "a b c d")) // all three shingles seen earlier
      .toDF("doc_id", "text")
    val out = Corpus.shingleNovelty(df, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm"))).toMap
    assert(out(1L) == (2L, 2L, 1000000L))
    assert(out(2L) == (2L, 1L, 500000L))
    assert(out(3L) == (3L, 0L, 0L))
  }

  test("hash split: matches an independent md5 reimplementation per key") {
    import spark.implicits._
    import graft.llm.Corpus
    val keys = (0L until 200L).toDF("k")
    val out = keys
      .select(col("k"), Corpus.splitAssign(col("k"), testPpm = 100000L,
        valPpm = 100000L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def expected(k: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val scaled = java.lang.Long.parseLong(hex, 16) * 1000000L
      if (scaled < 100000L * 4294967296L) "test"
      else if (scaled < 200000L * 4294967296L) "validation"
      else "train"
    }
    assert(out == (0L until 200L).map(k => k -> expected(k)).toMap)
    // the deterministic fixture happens to exercise all three branches
    assert(out.values.toSet == Set("train", "validation", "test"))
  }

  test("rank buckets: equal-frequency bands, deterministic at boundaries") {
    import spark.implicits._
    import graft.llm.Corpus
    // 6 docs in one stratum -> terciles of exactly 2; ties break by id.
    val df = Seq((1L, "en", 10), (2L, "en", 20), (3L, "en", 20),
      (4L, "en", 30), (5L, "en", 40), (6L, "en", 50),
      (7L, "de", 5)).toDF("doc_id", "lang", "n")
    val out = Corpus.rankBuckets(df, "doc_id", "lang", col("n"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bucket")).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 0L))
  }

  test("token budget cap: longest-first admits until budget, straddle kept") {
    import spark.implicits._
    import graft.llm.Corpus
    // Source s1 (budget 100): 60 admitted (cum 60), 50 admitted
    // (straddles: exclusive prefix 60 < 100), 40 rejected (prefix 110).
    val df = Seq((1L, "s1", 60), (2L, "s1", 50), (3L, "s1", 40),
      (4L, "s2", 300)).toDF("doc_id", "source", "n")
    val out = Corpus.capTokenBudget(df, "doc_id", "source", col("n"), 100L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cum_tokens")).toMap
    assert(out == Map(1L -> 60L, 2L -> 110L, 4L -> 300L))
  }

  test("split leakage: planted twin across splits found, within-split not") {
    import spark.implicits._
    import graft.llm.Corpus
    // Find two ids the hash split separates (one train, one test), give
    // them identical text, and assert exactly that pair is reported.
    def splitOf(k: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val scaled = java.lang.Long.parseLong(hex, 16) * 1000000L
      if (scaled < 100000L * 4294967296L) "test"
      else if (scaled < 200000L * 4294967296L) "validation"
      else "train"
    }
    val trainId = (0L until 1000L).find(splitOf(_) == "train").get
    val testId = (0L until 1000L).find(splitOf(_) == "test").get
    val train2 = (0L until 1000L).filter(splitOf(_) == "train")(1)
    val leakText = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq(
      (trainId, leakText), (testId, leakText), // cross-split twin: leak
      (train2, "x1 x2 x3 x4 x5 x6 x7 x8")      // train-only: silent
    ).toDF("doc_id", "text")
    val out = Corpus.splitLeakage(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_shared")))
    assert(out.toSeq == Seq((trainId, testId, 6L)))
  }

  test("ann recall: perfect on identical top-k, misses counted, zero kept") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "neighbor_id")
    val perfect = Similarity.annRecall(exact, exact, k = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("recall_ppm")).toMap
    assert(perfect == Map(1L -> 1000000L, 2L -> 1000000L))
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 98L), (2L, 97L))
      .toDF("qid", "neighbor_id")
    val partial = Similarity.annRecall(exact, approx, k = 2).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm"))).toMap
    assert(partial == Map(1L -> (1L, 500000L), 2L -> (0L, 0L)))
  }

  test("tuneNprobe: cheapest {nprobe, rerank} cell meeting the recall " +
    "target, ADC dip skipped naturally; unreachable target returns " +
    "the best cell flagged unmet") {
    import spark.implicits._
    // A synthetic q238-shaped grid (two queries per cell). Cell means:
    // (1,adc)=550k (1,rr)=700k (2,adc)=700k (2,rr)=800k
    // (4,adc)=600k [the documented deep-probe ADC dip] (4,rr)=900k
    // (8,adc)=600k (8,rr)=950k.
    val grid = Seq(
      (1, false, 500000L), (1, false, 600000L),
      (1, true, 700000L), (1, true, 700000L),
      (2, false, 800000L), (2, false, 600000L),
      (2, true, 900000L), (2, true, 700000L),
      (4, false, 700000L), (4, false, 500000L),
      (4, true, 900000L), (4, true, 900000L),
      (8, false, 600000L), (8, false, 600000L),
      (8, true, 1000000L), (8, true, 900000L))
      .toDF("nprobe", "reranked", "recall_ppm")
    // 500k: the shallowest ADC-only cell already meets it.
    assert(Similarity.tuneNprobe(grid, 500000L) ==
      Similarity.NprobeChoice(1, false, 550000L, met = true))
    // 700k: nprobe=1 ADC misses; the SAME depth reranked meets it —
    // cheaper than probing 2 lists (depth dominates cost).
    assert(Similarity.tuneNprobe(grid, 700000L) ==
      Similarity.NprobeChoice(1, true, 700000L, met = true))
    // 820k: (2,rr)=800k and the dipped (4,adc)=600k both miss — the
    // scan lands on (4,rr) without special-casing the dip.
    assert(Similarity.tuneNprobe(grid, 820000L) ==
      Similarity.NprobeChoice(4, true, 900000L, met = true))
    // Degenerate target above every cell: best-recall cell, unmet.
    assert(Similarity.tuneNprobe(grid, 990000L) ==
      Similarity.NprobeChoice(8, true, 950000L, met = false))
  }

  test("winnowing: window minima, sub-k self-coverage, shared-substring hit") {
    import spark.implicits._
    // 8 tokens, k=4, w=4: 5 k-gram hashes, full windows at positions 0-1
    val d = Seq((1L, "a b c d e f g h"), (2L, "tiny doc"),
      // shares the >= w+k-1 = 7-token suffix "b c d e f g h" with doc 1
      (3L, "x y z b c d e f g h")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert(fps(1L).nonEmpty && fps(1L).size <= 2)
    assert(fps(2L).size == 1) // sub-k doc: one short-gram fingerprint
    // winnowing guarantee: the shared 7-token substring fingerprints match
    assert(fps(1L).intersect(fps(3L)).nonEmpty)
  }

  test("winnow index: near-copy batch hits, fresh miss, one fp exchange") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    try {
      Dedup.writeWinnowIndex(docs, "doc_id", "text", "widx")
      // suffix-append preserves every interior fingerprint window, so a
      // near-copy shares (nearly) all fingerprints with its original
      val nearCopies = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(col("text"), lit(" tailtok")).as("text"))
      val fresh = Seq((9000001L, "qa qb qc qd qe qf qg qh qi qj qk ql"))
        .toDF("doc_id", "text")
      val got = Dedup.winnowAgainstIndex(nearCopies.unionByName(fresh),
          "doc_id", "text", spark, "widx").collect()
        .map(r => r.getAs[Long]("new_id") -> r.getAs[Long]("index_id")).toSet
      // An original can only be re-found if it retains >= minShared (4)
      // cap-eligible fingerprints — sub-~14-token docs carry fewer
      // fingerprints than that by construction (window density ~2/5).
      val expected = spark.table("widx_winnow")
        .filter(col("fp_docs") <= 8 && col("doc_id") % 10 === 0)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("_n"))
        .filter(col("_n") >= 4).select(col("doc_id")).collect()
        .map(r => (r.getLong(0) + 5000000) -> r.getLong(0)).toSet
      assert(expected.size >= 30, s"fixture too weak: ${expected.size}")
      assert(expected.subsetOf(got), s"missing: ${expected -- got}")
      assert(!got.exists(_._1 == 9000001L), "fresh doc matched the index")
      // Scale shape: only the BATCH fingerprints shuffle into the index's
      // fp bucketing; the index scans in place (broadcast disabled to
      // surface the layout this index exists for).
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = Dedup.winnowAgainstIndex(fresh, "doc_id", "text",
          spark, "widx").queryExecution.executedPlan.toString
        val exchanges = "hashpartitioning\\(fp".r.findAllIn(plan).length
        assert(exchanges == 1,
          s"expected exactly 1 fp exchange (batch side), got $exchanges:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS widx_winnow")
  }

  test("winnow overlap: shared-block pair found, boilerplate fp capped out") {
    import spark.implicits._
    val block = (1 to 40).map(i => s"w$i").mkString(" ")
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = (Seq(
      (1L, s"alpha beta $block gamma delta"),
      (2L, s"$block omega psi chi phi"),
      (3L, "totally unrelated text with nothing shared at all here")) ++
      // 10 docs sharing only a boilerplate block (> maxDocsPerFp=8):
      // its fingerprints must be capped out, so no pairs among them
      (10L to 19L).map(i => (i, s"$boiler unique$i tail$i own$i word$i more$i")))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 4L)
    assert(pairs.keySet == Set((1L, 2L)))
  }

  test("apportionment: shares sum to exactly 1e6, remainder tie to min key") {
    import spark.implicits._
    // three equal weights: floor gives 333333 each, one leftover unit —
    // identical remainders, so the smallest key gets the top-up
    val d = Seq(("a", 7L), ("b", 7L), ("c", 7L)).toDF("k", "w")
    val out = Corpus.apportionPpm(d, "k", col("w")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("share_ppm")).toMap
    assert(out.values.sum == 1000000L)
    assert(out == Map("a" -> 333334L, "b" -> 333333L, "c" -> 333333L))
    val skew = Corpus.apportionPpm(
      Seq(("x", 1L), ("y", 2L), ("z", 999997L)).toDF("k", "w"),
      "k", col("w")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("share_ppm")).toMap
    assert(skew.values.sum == 1000000L)
  }

  test("apportionment invariants hold on random weights") {
    import spark.implicits._
    import org.scalacheck.Gen
    // Hamilton's method guarantees: shares sum to exactly 1e6 and every
    // share is floor or ceil of its exact proportion (no row displaced by
    // more than one unit). Zero-weight rows are legal as long as some
    // weight is positive.
    val weights = Gen.listOfN(25,
      Gen.frequency(5 -> Gen.chooseNum(1L, 1000000L), 1 -> Gen.const(0L)))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(5L)) match {
        case all if all.forall(_ == 0) => 1L :: all.tail
        case all => all
      }
    val d = weights.zipWithIndex.map { case (w, i) => (f"k$i%02d", w) }
      .toDF("k", "w")
    val out = Corpus.apportionPpm(d, "k", col("w")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("share_ppm")).toMap
    assert(out.values.sum == 1000000L, s"shares sum ${out.values.sum}")
    val tot = weights.sum
    weights.zipWithIndex.foreach { case (w, i) =>
      val exact = BigInt(w) * 1000000 / tot
      val share = out(f"k$i%02d")
      assert(share == exact.toLong || share == exact.toLong + 1,
        s"k$i: share $share not in {floor, floor+1} of exact $exact")
    }
  }

  test("apportionment guards: empty input is empty, bad domains fail loudly") {
    import spark.implicits._
    // Empty input: nothing to apportion — empty output, no error.
    val empty = Seq.empty[(String, Long)].toDF("k", "w")
    assert(Corpus.apportionPpm(empty, "k", col("w")).collect().isEmpty)
    // raise_error surfaces wrapped (SparkException → cause chain).
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" | ")
    // Zero total (all-zero weights) would divide by zero → in-plan raise.
    val zeros = Seq(("a", 0L), ("b", 0L)).toDF("k", "w")
    val e1 = intercept[Exception] {
      Corpus.apportionPpm(zeros, "k", col("w")).collect()
    }
    assert(chain(e1).contains("apportionPpm"), chain(e1))
    // A negative weight corrupts the remainder ranking → in-plan raise.
    val neg = Seq(("a", 5L), ("b", -1L)).toDF("k", "w")
    val e2 = intercept[Exception] {
      Corpus.apportionPpm(neg, "k", col("w")).collect()
    }
    assert(chain(e2).contains("apportionPpm"), chain(e2))
  }

  test("bottom-k: exact per-stratum sizes, membership key-determined") {
    import spark.implicits._
    val d = (1L to 50L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "st")
    val out = Corpus.bottomK(d, "id", "st", k = 5).collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
    assert(out("a").length == 5 && out("b").length == 5)
    // adding rows can displace members but never changes existing draws:
    // the same 3 smallest draws of stratum a survive a corpus extension
    val ext = Corpus.bottomK(d.unionByName(
        Seq((100L, "a"), (101L, "a")).toDF("id", "st")), "id", "st", k = 5)
      .filter(col("st") === "a").collect().map(_.getLong(0)).toSet
    val base3 = Corpus.bottomK(d, "id", "st", k = 3)
      .filter(col("st") === "a").collect().map(_.getLong(0)).toSet
    assert(base3.subsetOf(ext + 100L + 101L))
  }

  test("frequency spectrum: power-of-two bands integer-exact") {
    import spark.implicits._
    val d = Seq((1L, "a a a a b b c"), (2L, "b b d")).toDF("doc_id", "text")
    // f: a=4 -> bucket 2, b=4 -> bucket 2, c=1 -> 0, d=1 -> 0
    val out = Corpus.frequencySpectrum(d, "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(2L -> (2L, 8L), 0L -> (2L, 2L)))
  }

  test("int8 knn: duplicate vector ranks first, dot integer-exact") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.25f)),
      (2L, Array(1.0f, 0.0f, 0.5f, 0.25f)), // exact duplicate of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.75f)),
      (4L, Array(0.5f, 0.5f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.int8Knn(vecs, Seq(Tuple1(1L)).toDF("vec_id"),
      "vec_id", "embedding", k = 3).collect()
      .map(r => r.getAs[Int]("rank") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("dot"))).toMap
    assert(out(1)._1 == 2L) // identical codes -> maximal dot
    // duplicate's dot = sum of squared byte codes of vec 1 — an integer
    assert(out(1)._2 > out(2)._2 && out(2)._2 >= out(3)._2)
  }

  test("ivf int8: top hit agrees with brute-force int8 on a clustered set") {
    import spark.implicits._
    // two tight clusters; centroidEvery=2 seeds centroids at ids 0 and 2
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.2f)), (3L, Array(0.1f, 0.9f, 0.0f, 0.2f)))
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(1L)).toDF("vec_id")
    val ivf = Similarity.ivfInt8Knn(vecs, q, "vec_id", "embedding",
      k = 2, centroidEvery = 2, nprobe = 1).collect()
      .map(r => r.getAs[Int]("rank") -> r.getAs[Long]("neighbor_id")).toMap
    val brute = Similarity.int8Knn(vecs, q, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getAs[Int]("rank") ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(ivf(1) == brute(1)) // same cluster holds the true top hit
  }

  test("containment: prefix doc caught at 1.0 despite low jaccard") {
    import spark.implicits._
    val full = (1 to 60).map(i => s"t$i").mkString(" ")
    val prefix = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, full), (2L, prefix),
      (3L, "nothing in common with the others at all in this text"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("cont1_ppm"), r.getAs[Long]("cont2_ppm"))).toMap
    // d2's 18 trigrams are all inside d1's 58: containment exactly 1.0,
    // while symmetric jaccard is 18/58 ≈ 0.31 — the case this catches
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L))._2 == 1000000L && out((1L, 2L))._1 < 500000L)
  }

  test("minhash agreement: identical pair saturates, disjoint pair zeroes") {
    import spark.implicits._
    val docs = Seq((1L, "p q r s t u v w"), (2L, "p q r s t u v w"),
      (3L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    val out = Dedup.minhashAgreementMd5(docs, "doc_id", "text", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_agree"), r.getAs[Long]("jaccard_ppm"))).toMap
    assert(out((1L, 2L)) == (64L, 1000000L))
    assert(out((1L, 3L)) == (0L, 0L))
  }

  test("shard assignment: serpentine deal balances exactly on 8/4") {
    import spark.implicits._
    val d = (1 to 8).map(i => (i.toLong, "s", 9L - i)).toDF("id", "src", "w")
    val out = Corpus.assignShards(d, "id", "src", col("w"), nShards = 4)
      .groupBy(col("shard")).agg(sum(col("weight")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weights 8..1 dealt 0,1,2,3 then 3,2,1,0: every shard totals 9
    assert(out == Map(0L -> 9L, 1L -> 9L, 2L -> 9L, 3L -> 9L))
  }

  test("chunking: overlap windows, partial tails, no overlap-only chunks") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, (1 to 7).map(i => s"u$i").mkString(" ")),  // 7 toks: tail at 6 adds nothing
      (3L, "v1 v2 v3")).toDF("doc_id", "text")        // sub-width doc
    val out = Corpus.chunkDocuments(df, "doc_id", "text",
      chunkTokens = 8, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getInt(3))).toMap
    // doc1: chunk 0 = t1..t8, chunk 1 starts at 6 = t7..t10 (4 tokens,
    // 2 of them fresh — kept).
    assert(out((1L, 0L)) == ((1 to 8).map(i => s"t$i").mkString(" "), 8))
    assert(out((1L, 1L)) == ((7 to 10).map(i => s"t$i").mkString(" "), 4))
    // doc2: the stride-6 tail would hold only u7 — already covered by
    // chunk 0's window, so it is dropped.
    assert(out.keySet.filter(_._1 == 2L) == Set((2L, 0L)))
    assert(out((2L, 0L))._2 == 7)
    // doc3: one partial chunk.
    assert(out((3L, 0L)) == ("v1 v2 v3", 3))
  }

  test("ivf chain construction triggers no Spark job (lazy modulus)") {
    // Regression guard for the round-10 advice: centroidsOf used to run an
    // eager corpus.count() at DataFrame-CONSTRUCTION time (q85 built two
    // chains and paid the scan twice). The modulus is now an in-plan
    // scalar broadcast, so building the chain must submit zero jobs.
    val e = graft.Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    // Force plan-only work (analysis/optimization) without an action.
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val chain = Similarity.ivfKnn(e, q, "vec_id", "embedding", k = 10)
    chain.queryExecution.executedPlan // full planning, still no action
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"ivfKnn construction submitted ${after - before} Spark job(s)")
    assert(chain.count() > 0) // and the chain still executes
  }

  test("kmeans: identical vectors co-cluster; assignment is deterministic") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val out = Similarity.kMeans(e, "vec_id", "embedding",
      centroidEvery = 64, iters = 2)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == e.count())
    // Cluster ids come from the seed id namespace.
    assert(m.values.toSet.forall(_ % 64 == 0))
    // A seed vector is distance-0 from its own initial centroid; after
    // convergence-free 2 rounds it can move, but every assignment must be
    // reproducible run-to-run (the oracle depends on it).
    val again = Similarity.kMeans(e, "vec_id", "embedding",
      centroidEvery = 64, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == m, "k-means assignment not deterministic across runs")
  }

  // Plants an exact copy of every tenth document and checks the width's
  // near-dup join: every copy pairs with its original at hamming 0
  // (identical token multiset → identical signature; the banded join's
  // recall for hamming <= 3 < 4 bands is exact by pigeonhole), and every
  // reported pair satisfies the contract with d1 < d2.
  private def checkExactCopies(bits: Int): Unit = {
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val pairs = Dedup.simhashNearDups(docs.unionByName(copies),
      "doc_id", "text", bits).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0))
    planted.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000000 && p._3 == 0),
        s"$bits bits: exact copy of $id not found at hamming 0")
    }
    pairs.foreach(p => assert(p._1 < p._2 && p._3 <= 3))
  }

  test("simhash64: exact copies at hamming 0, pigeonhole recall holds") {
    checkExactCopies(64)
  }

  test("simhash128: exact copies at hamming 0, pairs agree with 64-bit on copies") {
    // hamming over 128 bits is a FINER resolution than 64: every reported
    // pair still satisfies the contract.
    checkExactCopies(128)
  }

  test("sketch cardinality: HLL estimate within documented error of exact") {
    // The sketch column is gated HERE, not in the driver's hash compare:
    // q67's oracle-compared surface is exact-only (HLL++ internals are
    // engine-specific), so this test re-derives the estimate beside the
    // query's exact counts and asserts the error bound.
    val d = graft.Tables.t(spark, sf, "documents")
      .select(col("lang"),
        graft.llm.TextAnalysis.fingerprint(col("text")).as("fp"))
    val sketch = d.groupBy(col("lang"))
      .agg(approx_count_distinct(col("fp")).as("approx_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = LlmQueries.queries("q67_sketch_cardinality")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val approx = sketch(r.getString(0)).toDouble
      // approx_count_distinct default rsd is 5%; 3x headroom for small
      // cardinalities where the bound is probabilistic.
      assert(math.abs(approx - exact) <= math.max(3, 0.15 * exact),
        s"HLL estimate $approx too far from exact $exact for ${r.getString(0)}")
    }
  }

  test("repetition: raw windows count duplicates, distinct shingles don't") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a"), (2L, "a b c d e")).toDF("id", "text")
    val out = df.select(col("id"),
      graft.llm.TextAnalysis.repeatedNgramFrac(col("text"), 2).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // "a b a b a": windows [a b, b a, a b, b a] -> 2 distinct of 4 -> 0.5.
    assert(out(1L) == 0.5)
    assert(out(2L) == 0.0)
  }

  test("surprisal: hand-computed integer bands, common-token doc scores low") {
    import spark.implicits._
    // Corpus counts: a=5, b=2, c=1, T=8. Bands: a -> log2(8 div 5)=0,
    // b -> log2(4)=2, c -> log2(8)=3.
    val docs = Seq((1L, "a a a a"), (2L, "b"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val out = Corpus.surprisalScore(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_bands"),
          r.getAs[Long]("surprisal_ppm")))).toMap
    assert(out(1L) == ((4L, 0L, 0L)))
    assert(out(2L) == ((1L, 2L, 2000000L)))
    assert(out(3L) == ((3L, 5L, 1666666L)))
    // The quality-split property the operator exists for: the
    // boilerplate doc scores strictly below the rare-token doc.
    assert(out(1L)._3 < out(3L)._3)
    val plan = Corpus.surprisalScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("bigram surprisal: hand-computed conditional bands, boilerplate " +
    "continuation scores below a rare one") {
    import spark.implicits._
    // uni: a=3 b=2 c=1, T=6; big: (a,b)=2, (a,c)=1.
    // doc1/doc2 "a b": pos0 a -> log2(6 div 3)=1; (a,b) -> log2(3 div 2)=0.
    // doc3 "a c":      pos0 a -> 1;               (a,c) -> log2(3 div 1)=1.
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = Corpus.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_bands"),
          r.getAs[Long]("surprisal_ppm")))).toMap
    assert(out(1L) == ((2L, 1L, 500000L)))
    assert(out(2L) == ((2L, 1L, 500000L)))
    assert(out(3L) == ((2L, 2L, 1000000L)))
  }

  test("frozen-vocab surprisal: matches self-scoring on the training " +
    "corpus, OOV tokens take the ceiling band") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "b"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("vocab").toString
    Corpus.writeVocab(docs, "doc_id", "text", dir)
    // Scoring the training corpus under its own stored model must equal
    // the self-derived q115 scores row for row.
    val self = Corpus.surprisalScore(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("surprisal_ppm")).toMap
    val frozen = Corpus.surprisalAgainstVocab(docs, "doc_id", "text", dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("surprisal_ppm")).toMap
    assert(frozen == self)
    // OOV: T=8, so unseen 'z' takes floor(log2(8)) + 1 = 4; 'a' takes 0.
    val batch = Seq((9L, "z a")).toDF("doc_id", "text")
    val out = Corpus.surprisalAgainstVocab(batch, "doc_id", "text", dir)
      .collect().map(r => (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("sum_bands"), r.getAs[Long]("surprisal_ppm")))
    assert(out.toSeq == Seq((2L, 4L, 2000000L)))
  }

  test("matryoshka recall: lossless when tail dims are zero, drops when " +
    "only tail dims discriminate") {
    import spark.implicits._
    def vec(head: Seq[Float], tail: Seq[Float]): Array[Float] =
      (head.padTo(32, 0f) ++ tail.padTo(32, 0f)).toArray
    def recallOf(e: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Long] = {
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 32))
      Similarity.annRecall(
        Similarity.bruteForceKnn(e, e, "vec_id", "embedding", k = k),
        Similarity.bruteForceKnn(trunc(e), trunc(e), "vec_id", "embedding",
          k = k), k = k)
        .collect().map(r => r.getAs[Long]("qid") ->
          r.getAs[Long]("recall_ppm")).toMap
    }
    // All information in the first 32 dims: truncation is lossless.
    val lossless = Seq(
      (1L, vec(Seq(1f, 0f), Nil)), (2L, vec(Seq(0.9f, 0.1f), Nil)),
      (3L, vec(Seq(0f, 1f), Nil)), (4L, vec(Seq(0.1f, 0.9f), Nil)))
      .toDF("vec_id", "embedding")
    assert(recallOf(lossless, 2).values.forall(_ == 1000000L))
    // Only the tail discriminates: truncated sims tie, the id-asc tie
    // rule picks vec 2, but the full-width neighbor of the query is 3.
    val tailOnly = Seq(
      (1L, vec(Seq(1f), Seq(1f))),
      (2L, vec(Seq(1f), Seq(-1f))),
      (3L, vec(Seq(1f), Seq(0.9f))))
      .toDF("vec_id", "embedding")
    val r = recallOf(tailOnly, 1)
    assert(r(1L) == 0L)
  }

  test("inverted index: df over distinct docs, postings capped and sorted") {
    import spark.implicits._
    val docs = Seq(
      (3L, "a b a"),   // duplicate within doc counts once toward df
      (1L, "a c"),
      (2L, "a")).toDF("doc_id", "text")
    val got = Corpus.invertedIndex(docs, "doc_id", "text", postingCap = 2)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // "a": df 3, postings capped at the 2 smallest ids; sorted ascending.
    assert(got == Map(
      "a" -> (3L, "1,2"),
      "b" -> (1L, "3"),
      "c" -> (1L, "1")), s"got $got")
  }

  test("pmi collocations: exact ppm ratio, threshold, single-token doc immune") {
    import spark.implicits._
    // Corpus: "x y" ×3 plus "z" (single-token — must not form a pair or
    // break the enumeration). T = 7 tokens; c(x)=3, c(y)=3, pair(x,y)=3.
    // ratio = floor(3·7·10⁶ / 9) = 2333333.
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "z"))
      .toDF("doc_id", "text")
    val got = Corpus.pmiCollocations(docs, "doc_id", "text",
        minPairCount = 3L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(("x", "y") -> (3L, 2333333L)), s"got $got")
  }

  test("pmi collocations: base-1000 division matches BigInt at overflow scale") {
    import spark.implicits._
    // Hand-check the long-division algebra against BigInt on the exact
    // counts the expression sees: inflate counts by replicating one
    // bigram so pair·T·10⁶ passes 2⁶³ if formed naively. 4000 copies of
    // "p q" → pair = 4000, T = 8000, D = 16e6; naive pair·T·10⁶ =
    // 3.2e13·10⁶ = 3.2e19 > 2⁶³ ≈ 9.2e18.
    val docs = (0 until 4000).map(i => (i.toLong, "p q"))
      .toDF("doc_id", "text")
    val got = Corpus.pmiCollocations(docs, "doc_id", "text",
        minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    val expect = (BigInt(4000) * 8000 * 1000000 /
      (BigInt(4000) * 4000)).toLong
    assert(got == Map(("p", "q") -> expect), s"got $got expect $expect")
  }

  test("bm25: hand-computed integer chain, rank order, absent-term zero") {
    import spark.implicits._
    // N=3, T=8; df(apple)=1, df(cherry)=2. Scores derived by hand from
    // the 44·tf·T/(20·T·tf+6·T+18·dl·N) base-1000 chain and the
    // (2N−2df+1)·10⁶ div (2df+1) idf: d1=2213834, d3=918260, d2=668354.
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val got = Corpus.bm25TopK(docs, "doc_id", "text",
        Seq("apple", "cherry"), topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 2213834L, 1), (3L, 918260L, 2),
      (2L, 668354L, 3)), s"got ${got.toSeq}")
    // A query of only absent terms scores every doc 0 → empty result.
    assert(Corpus.bm25TopK(docs, "doc_id", "text", Seq("durian"))
      .collect().isEmpty)
  }

  test("tfidf top terms: raw-ratio idf, tf weighting, token tie order") {
    import spark.implicits._
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val got = Corpus.tfidfTopTerms(docs, "doc_id", "text", topTerms = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(5)))
      .toMap
    // d2's banana/cherry tie at 1.5e6 breaks by token asc.
    assert(got == Map(
      (1L, 1) -> ("apple", 6000000L), (1L, 2) -> ("banana", 1500000L),
      (2L, 1) -> ("banana", 1500000L), (2L, 2) -> ("cherry", 1500000L),
      (3L, 1) -> ("cherry", 4500000L)), s"got $got")
  }

  test("fuzzy pairs: symmetric-delete blocking equals the all-pairs scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein, explode}
    // Substitution, insertion, deletion, transposition-as-2-subs, and
    // far-apart words — plus a 1-char word whose only variant is "".
    val words = Seq("cat", "cart", "carts", "cast", "dog", "dig", "doge",
      "o", "ox", "zebra", "zebrb", "alphabetical")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = Corpus.fuzzyTokenPairs(docs, "text", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val vocab = words.toDF("w")
    val expect = vocab.as("a").crossJoin(vocab.as("b"))
      .filter(col("a.w") < col("b.w"))
      .withColumn("dist", levenshtein(col("a.w"), col("b.w")).cast("long"))
      .filter(col("dist") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == expect,
      s"missing ${expect -- got}, extra ${got -- expect}")
    assert(expect.contains(("cast", "cat", 1L)) &&
      expect.contains(("o", "ox", 1L)), "fixture lost its hand pairs")
  }

  test("rrf fusion: integer scores, overlap counts, fused tie order") {
    import spark.implicits._
    // List A ranks n1,n2; list B ranks n2,n3 — n2 fuses to the top with
    // 10⁶//62 + 10⁶//61 = 32522; n1 (16393) beats n3 (16129).
    val a = Seq((1L, 1, 101L), (1L, 2, 102L)).toDF("qid", "rank", "neighbor_id")
    val b = Seq((1L, 1, 102L), (1L, 2, 103L)).toDF("qid", "rank", "neighbor_id")
    val got = Similarity.rrfFuse(a, b, topK = 3)
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1, 102L, 32522L, 2L), (2, 101L, 16393L, 1L),
      (3, 103L, 16129L, 1L)), s"got ${got.toSeq}")
  }

  test("kmv sketch: two-phase equals naive flat window, collisions collapse") {
    import spark.implicits._
    val df = (1 to 300).map(i => ("s" + (i % 2), i.toLong)).toDF("st", "key")
    def asSet(d: org.apache.spark.sql.DataFrame) = d
      .select(col("stratum"), col("h"), col("kmv_rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = asSet(Corpus.kmvSketch(df, "key", "st", k = 10))
    val hashed = df.select(col("st").as("stratum"),
      Corpus.hashU32(col("key"), "kmv:").as("h")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("h").asc)
    val exp = asSet(hashed
      .withColumn("kmv_rank", row_number().over(w).cast("long"))
      .filter(col("kmv_rank") <= 10))
    assert(got == exp)
    // Duplicate keys hash identically and collapse — the sketch is a
    // pure function of the key SET.
    assert(asSet(Corpus.kmvSketch(df.unionByName(df), "key", "st", 10))
      == exp)
  }

  test("setSimJoin: exact jaccard pairs with prefix filtering on a " +
    "hand corpus") {
    import spark.implicits._
    // d1/d2: 5 distinct words sharing 4 → J = 4/6 ≈ 0.667.
    // d1/d3: share 2 of 5+5 → J = 2/8 = 0.25 (below both thresholds).
    // d4: disjoint vocabulary, matches nothing.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "alpha beta kappa lambda mu"),
      (4L, "nu xi omicron pi rho")
    ).toDF("doc_id", "text")
    def run(t: Long) = Dedup.setSimJoin(docs, "doc_id", "text", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(600000L) == Set((1L, 2L, 666666L)), s"got ${run(600000L)}")
    assert(run(700000L) == Set.empty, s"got ${run(700000L)}")
    // Duplicate words inside a doc collapse (DISTINCT sets): J still 4/6.
    val dup = Seq(
      (1L, "alpha alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta zeta")
    ).toDF("doc_id", "text")
    val got = Dedup.setSimJoin(dup, "doc_id", "text", 600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 666666L)), s"got $got")
  }

  test("cms: estimates never undercount; uncontended width is exact") {
    import spark.implicits._
    // 30 keys × distinct counts. Width 1024 >> 30 keys: very likely
    // uncontended, but the INVARIANT asserted is one-sided (est >= true)
    // plus exactness measured, not assumed.
    val df = (1 to 30).flatMap(k => Seq.fill(k)(k.toLong)).toDF("key")
    val cms = Corpus.cmsBuild(df, "key", depth = 4, width = 1024)
    // Sketch is bounded: at most d·w cells, regardless of key count.
    assert(cms.count() <= 4L * 1024L)
    val est = Corpus.cmsEstimate(cms, df.distinct(), "key",
      depth = 4, width = 1024)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 30).foreach { k =>
      assert(est(k.toLong) >= k.toLong, s"undercount at $k: ${est(k)}")
    }
    // A key never inserted estimates as the min of its cells — with
    // 465 insertions over 4×1024 cells it may collide, but never
    // negatively.
    val ghost = Corpus.cmsEstimate(cms, Seq(999L).toDF("key"), "key",
      depth = 4, width = 1024).collect().head.getLong(1)
    assert(ghost >= 0L)
    // Tight width forces collisions: estimates still never undercount.
    val tight = Corpus.cmsBuild(df, "key", depth = 2, width = 4)
    val estT = Corpus.cmsEstimate(tight, df.distinct(), "key",
      depth = 2, width = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 30).foreach { k =>
      assert(estT(k.toLong) >= k.toLong, s"undercount at $k: ${estT(k)}")
    }
  }

  test("bpe training: canonical merges on a hand corpus") {
    import spark.implicits._
    // words: the×4, cat×2, sat×1. Round 1: pairs th=4, he=4, ca=2,
    // at=3, sa=1 — tie at 4 broken lexicographically → (h,e). Round 2:
    // (t,he)=4 wins. Round 3: 'the' is fully merged, (a,t)=3 wins.
    val docs = Seq((1L, "the the the cat"), (2L, "the cat sat"))
      .toDF("doc_id", "text")
    val got = Corpus.bpeTrain(docs, "doc_id", "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got == Set(
      (1, "h", "e", "he", 4L),
      (2, "t", "he", "the", 4L),
      (3, "a", "t", "at", 3L)), s"got $got")
  }

  test("bpe training: overlapping pairs count per position and merge " +
    "greedily left-to-right") {
    import spark.implicits._
    // 'aaaa' ×2: round 1 counts (a,a) at 3 positions ×2 = 6 and merges
    // non-overlapping left-to-right → [aa, aa]; round 2 merges
    // (aa,aa)=2 → [aaaa]; round 3 has no pairs left → no third row.
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val got = Corpus.bpeTrain(docs, "doc_id", "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4))).toSet
    assert(got == Set((1, "aa", 6L), (2, "aaaa", 2L)), s"got $got")
  }

  test("bpe training: odd runs leave the trailing symbol unmerged") {
    import spark.implicits._
    // 'aaa': greedy scan merges positions 0-1 then stops → [aa, a];
    // round 2's top pair is (aa, a) = 1.
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = Corpus.bpeTrain(docs, "doc_id", "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(4))).toSet
    assert(got == Set((1, "a", "a", 2L), (2, "aa", "a", 1L)), s"got $got")
  }

  test("bpe fertility: per-doc token counts under the trained vocab") {
    import spark.implicits._
    // Trained merges (see the bpe-training hand case): he, the, at.
    // Final forms: the→[the]=1, cat→[c,at]=2, sat→[s,at]=2.
    // Doc 1 (the the the cat): 4 words, 3·1+2 = 5 BPE tokens.
    // Doc 2 (the cat sat): 3 words, 1+2+2 = 5 BPE tokens.
    val docs = Seq((1L, "the the the cat"), (2L, "the cat sat"))
      .toDF("doc_id", "text")
    val got = Corpus.bpeFertility(docs, "doc_id", "text", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, 4L, 5L, 1250000L),
      (2L, 3L, 5L, 1666666L)), s"got $got")
  }

  test("kmv index: write then merge batches equals one-shot sketch") {
    import spark.implicits._
    // Three overlapping batches ingested incrementally (write + 2 merges,
    // each merge reading ONLY the k-slot table and its own batch) must
    // reproduce the one-shot sketch of the concatenation bit for bit —
    // the KMV merge-closure contract persisted sketches rely on.
    val all = (1 to 400).map(i => ("s" + (i % 3), i.toLong)).toDF("st", "key")
    val batches = Seq(
      (1 to 200), (150 to 320), (280 to 400)).map(r =>
      r.map(i => ("s" + (i % 3), i.toLong)).toDF("st", "key"))
    val dir = java.nio.file.Files.createTempDirectory("kmvidx").toString
    try {
      def slots(b: org.apache.spark.sql.DataFrame) =
        Corpus.kmvSketch(b, "key", "st", k = 12).drop("kmv_rank")
      slots(batches(0)).write.mode("overwrite").parquet(dir)
      graft.sources.ShardStore.upsert(slots(batches(1)), dir,
        Corpus.kmvMerge(12))
      graft.sources.ShardStore.upsert(slots(batches(2)), dir,
        Corpus.kmvMerge(12))
      def asSet(d: org.apache.spark.sql.DataFrame) = d
        .select(col("stratum"), col("h"), col("kmv_rank"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(asSet(Corpus.readKmvIndex(spark, dir))
        == asSet(Corpus.kmvSketch(all, "key", "st", k = 12)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("cms index: write then merge batches equals one-shot sketch, " +
    "estimates never undercount") {
    import spark.implicits._
    // Disjoint row batches whose KEYS recur across batches (cell counts
    // must ADD across batches, not union) ingested as write + 2 merges
    // must reproduce the one-shot sketch of the concatenation cell for
    // cell: the count-min merge law cms(A)+cms(B) = cms(A ⊎ B).
    val all = (1 to 400).map(i => (i % 37).toLong).toDF("key")
    val batches = Seq((1 to 200), (201 to 320), (321 to 400)).map(r =>
      r.map(i => (i % 37).toLong).toDF("key"))
    val dir = java.nio.file.Files.createTempDirectory("cmsidx").toString
    try {
      def cms(b: org.apache.spark.sql.DataFrame) =
        Corpus.cmsBuild(b, "key", depth = 3, width = 16)
      cms(batches(0)).write.mode("overwrite").parquet(dir)
      graft.sources.ShardStore.merge(cms(batches(1)), dir, Corpus.cmsMerge)
      graft.sources.ShardStore.merge(cms(batches(2)), dir, Corpus.cmsMerge)
      def cells(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val merged = cells(spark.read.parquet(dir)
        .select(col("r"), col("c"), col("n")))
      assert(merged == cells(
        Corpus.cmsBuild(all, "key", depth = 3, width = 16)
          .select(col("r"), col("c"), col("n"))))
      // Served estimates: est_n >= true_n for every probed key (the
      // count-min one-sided guarantee, over the MERGED index).
      val probes = all.distinct()
      val est = Corpus.cmsEstimate(spark.read.parquet(dir), probes, "key",
        depth = 3, width = 16)
      val truth = all.groupBy(col("key")).agg(count(lit(1)).as("tn"))
      val under = est.join(truth, Seq("key"))
        .filter(col("est_n") < col("tn")).count()
      assert(under == 0, "count-min undercounted a key")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("search index: sharded postings serve BM25 bit-equal to the " +
    "corpus scan; the term predicate prunes token-bucket partitions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark merge spark vector data"),
      (2L, "merge vector vector"),
      (3L, "spark alone here"),
      (4L, "none of the terms"),
      (5L, "vector spark merge all three now")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("searchidx").toString
    try {
      Corpus.writeSearchIndexShard(docs.filter($"doc_id" <= 2),
        "doc_id", "text", dir, batchId = 0L, buckets = 8, truncate = true)
      Corpus.writeSearchIndexShard(docs.filter($"doc_id" > 2),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      val terms = Seq("spark", "merge", "vector")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val served = Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
        topK = 10, buckets = 8)
      assert(rows(served) ==
        rows(Corpus.bm25TopK(docs, "doc_id", "text", terms, topK = 10)),
        "index serving diverged from the corpus scan")
      // Replayed shard: batch 1 re-lands in its own partitions — the
      // served ranking is bit-stable (no df/N double-counts).
      Corpus.writeSearchIndexShard(docs.filter($"doc_id" > 2),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      assert(rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
        topK = 10, buckets = 8)) == rows(served),
        "replayed shard changed the ranking")
      // Partition pruning: the postings scan must carry a _tb partition
      // filter (the constant-folded pmod(hash(lit(term))) predicate) —
      // reading every bucket would be the corpus-scan cost in disguise.
      val plan = served.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator
        .find(l => l.contains("PartitionFilters") && l.contains("postings"))
        .getOrElse(plan.linesIterator
          .find(_.contains("PartitionFilters: [")).getOrElse(""))
      assert(scanLine.contains("_tb"),
        s"postings scan has no _tb partition filter:\n$plan")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("search index lifecycle: upsert re-ingestion serves the CURRENT " +
    "doc versions bit-equal to a fresh scan; replay idempotent; " +
    "compaction preserves serving and collapses shards") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 400)
    val dir = java.nio.file.Files.createTempDirectory("searchlife").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", dir, batchId = 0L, buckets = 8)
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 =!= 0),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      assert(serve() == scanOf(docs), "two-shard build diverged from scan")
      // Re-ingest every 10th doc with CHANGED text (a re-crawl): the
      // upsert must retire the old postings/stats/ownership, so the
      // serve equals a fresh scan of the CURRENT versions — the drift
      // the plain shard write silently accumulates.
      val mod = docs.filter($"doc_id" % 10 === 0)
        .withColumn("text", concat($"text", lit(" merge merge vector")))
      Corpus.upsertSearchIndexShard(mod, "doc_id", "text", dir,
        batchId = 2L, buckets = 8)
      val cur1 = docs.filter($"doc_id" % 10 =!= 0).unionByName(mod)
      val served1 = serve()
      assert(served1 == scanOf(cur1),
        "re-ingest left stale postings live (df/N double-count)")
      // At-least-once replay of the upsert batch: self-collisions are
      // excluded and the shard overwrites itself — a no-op.
      Corpus.upsertSearchIndexShard(mod, "doc_id", "text", dir,
        batchId = 2L, buckets = 8)
      assert(serve() == served1, "replayed upsert batch changed serving")
      // Compaction folds the shards; serving is bit-stable and the
      // stats table collapses to one base partition.
      Corpus.compactSearchIndex(spark, dir)
      assert(serve() == served1, "compaction changed serving")
      def parts(p: String) = new java.io.File(p).listFiles.toSeq
        .map(_.getName).filter(_.startsWith("batch_id="))
      assert(parts(s"$dir/stats") == Seq("batch_id=-4"),
        s"stats did not collapse: ${parts(s"$dir/stats")}")
      assert(parts(s"$dir/postings") == Seq("batch_id=-4"))
      // Upsert AGAINST THE BASE: a post-compaction re-crawl touches the
      // folded shard and must retire copies inside it.
      val mod2 = docs.filter($"doc_id" % 10 === 1)
        .withColumn("text", concat($"text", lit(" spark spark")))
      Corpus.upsertSearchIndexShard(mod2, "doc_id", "text", dir,
        batchId = 3L, buckets = 8)
      val cur2 = cur1.filter($"doc_id" % 10 =!= 1).unionByName(mod2)
      assert(serve() == scanOf(cur2),
        "post-compaction upsert left stale copies in the base shard")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("search index durability: a crash at EVERY retire-protocol " +
    "point loses nothing — recovery serves a consistent state and the " +
    "retried upsert restores the full corpus") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 300)
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    // The re-crawl batch: every 10th doc with changed text. All its
    // ids live in shard 0 (they are even), so the retire touches a
    // shard holding many UNRELATED survivors — the rows the old
    // delete-before-durable-append window could lose.
    val mod = docs.filter($"doc_id" % 10 === 0)
      .withColumn("text", concat($"text", lit(" merge merge vector")))
    val afterRetire = docs.filter($"doc_id" % 10 =!= 0)
    val afterUpsert = afterRetire.unionByName(mod)
    for (point <- Seq("pre-staged", "post-staged", "post-delete",
        "post-swap-postings", "post-swap-stats", "post-swap-docs")) {
      val dir = java.nio.file.Files
        .createTempDirectory("searchcrash").toString
      try {
        Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 === 0),
          "doc_id", "text", dir, batchId = 0L, buckets = 8)
        Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 =!= 0),
          "doc_id", "text", dir, batchId = 1L, buckets = 8)
        Corpus.retireFailpoint = Some(point)
        val thrown = intercept[RuntimeException] {
          Corpus.upsertSearchIndexShard(mod, "doc_id", "text", dir,
            batchId = 2L, buckets = 8)
        }
        assert(thrown.getMessage.contains(point))
        Corpus.retireFailpoint = None
        // Serve after the crash: bm25FromIndex runs recovery first, so
        // the state must be CONSISTENT — the full pre-upsert view when
        // the crash hit before the _staged commit point, the
        // retire-complete view after it. Never a half-swapped hybrid,
        // and never a lost survivor.
        val served = rows(Corpus.bm25FromIndex(spark, dir, "doc_id",
          terms, topK = 10, buckets = 8))
        if (point == "pre-staged")
          assert(served == scanOf(docs),
            s"$point: pre-commit crash must leave the old view intact")
        else
          assert(served == scanOf(afterRetire),
            s"$point: recovery must complete the committed retire")
        // The streaming retry re-delivers the batch: the final serve
        // equals a fresh scan of the CURRENT versions.
        Corpus.upsertSearchIndexShard(mod, "doc_id", "text", dir,
          batchId = 2L, buckets = 8)
        assert(rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
          topK = 10, buckets = 8)) == scanOf(afterUpsert),
          s"$point: retried upsert did not restore the full corpus")
      } finally {
        Corpus.retireFailpoint = None
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("staging lease: recovery leaves a LIVE writer's unstaged " +
    "_upsert_tmp alone (serve-mid-stream must not destroy an active " +
    "rewrite's staging) and sweeps it once the lease is stale") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 150)
    val dir = java.nio.file.Files
      .createTempDirectory("searchlease").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      Corpus.upsertSearchIndexShard(docs, "doc_id", "text", dir,
        batchId = 0L, buckets = 8)
      // Simulate a writer in ANOTHER process mid-staging: fresh
      // `_writing` lease, partial staging content, no `_staged`.
      val stage = new java.io.File(dir, "_upsert_tmp")
      assert(stage.mkdirs())
      assert(new java.io.File(stage, "_writing").createNewFile())
      assert(new java.io.File(stage, "docs").mkdirs())
      // A serve overlapping the staging: recovery must NOT sweep the
      // live writer's staging (the r16 reader-destroys-writer race),
      // and serving reads the intact live index (staging is invisible
      // to discovery either way).
      assert(serve() == scanOf(docs), "serve diverged mid-staging")
      assert(stage.exists, "recovery destroyed a live writer's staging")
      // Once the lease is STALE (writer provably dead), the orphaned
      // pre-commit staging is garbage and the next entry sweeps it.
      val ttl = Corpus.stagingLeaseTtlMs
      try {
        Corpus.stagingLeaseTtlMs = 0L
        Corpus.recoverSearchIndex(spark, dir)
      } finally Corpus.stagingLeaseTtlMs = ttl
      assert(!stage.exists, "stale pre-commit staging not swept")
      assert(serve() == scanOf(docs), "sweep disturbed the live index")
      // The real protocol still ends clean: an upsert through the
      // locked path leaves no staging behind.
      val redone = docs.filter($"doc_id" === 42)
        .withColumn("text", concat($"text", lit(" vector vector")))
      Corpus.upsertSearchIndexShard(redone, "doc_id", "text", dir,
        batchId = 1L, buckets = 8)
      assert(!stage.exists)
      assert(serve() ==
        scanOf(docs.filter($"doc_id" =!= 42).unionByName(redone)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("deleteDocs: retire-without-replacement serves exactly the " +
    "survivors; absent-id and replayed deletes no-op; a deleted doc " +
    "re-ingests cleanly") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 300)
    val dir = java.nio.file.Files
      .createTempDirectory("searchdel").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", dir, batchId = 0L, buckets = 8)
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 =!= 0),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      val dead = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
      val survivors = docs.filter($"doc_id" % 7 =!= 0)
      Corpus.deleteDocs(spark, dir, dead, "doc_id")
      assert(serve() == scanOf(survivors),
        "delete left stale postings live")
      // The corpus moments shrink WITH the docs — N is a sum over
      // stored rows, so takedowns must not leave ghost mass behind.
      val n = graft.sources.ShardStore.live(spark, s"$dir/stats")
        .agg(sum($"n_docs")).as[Long].collect().head
      assert(n == survivors.count(), s"stats N=$n after delete")
      // Deleting an absent id no-ops; replaying the delete no-ops.
      Corpus.deleteDocs(spark, dir, Seq(99999999L).toDF("doc_id"),
        "doc_id")
      Corpus.deleteDocs(spark, dir, dead, "doc_id")
      assert(serve() == scanOf(survivors),
        "absent-id or replayed delete changed serving")
      // A deleted doc may RETURN (re-crawl after takedown reversal):
      // the bloom gate was deliberately left signed, so the upsert
      // pays one exact probe and lands the doc fresh.
      val back = docs.filter($"doc_id" % 7 === 0)
        .withColumn("text", concat($"text", lit(" vector spark")))
      Corpus.upsertSearchIndexShard(back, "doc_id", "text", dir,
        batchId = 5L, buckets = 8)
      assert(serve() == scanOf(survivors.unionByName(back)),
        "re-ingested previously-deleted doc not served")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("full takedown: deleting EVERY doc leaves a servable EMPTY " +
    "index (no schema-inference brick); re-ingest revives it") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val dir = java.nio.file.Files
      .createTempDirectory("searchwipe").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    try {
      Corpus.upsertSearchIndexShard(docs, "doc_id", "text", dir,
        batchId = 0L, buckets = 8)
      assert(serve().nonEmpty)
      // Retire EVERYTHING: every table loses its last partition.
      Corpus.deleteDocs(spark, dir, docs.select($"doc_id"), "doc_id")
      assert(serve().isEmpty, "wiped index served rows")
      // Maintenance entry points stay callable on the empty index.
      Corpus.compactSearchIndex(spark, dir)
      Corpus.recoverSearchIndex(spark, dir)
      assert(serve().isEmpty)
      // Revival: a fresh batch lands and serves alone.
      val back = docs.filter($"doc_id" < 40)
      Corpus.upsertSearchIndexShard(back, "doc_id", "text", dir,
        batchId = 3L, buckets = 8)
      assert(serve() == rows(Corpus.bm25TopK(back, "doc_id", "text",
        terms, topK = 10)), "revived index diverges from the scan")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("three-table compaction coherence: a crash between per-table " +
    "folds heals on the next entry, and the retire path stays correct " +
    "across the healed base") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    val dir = java.nio.file.Files
      .createTempDirectory("searchcoh").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", dir, batchId = 0L, buckets = 8)
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 =!= 0),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      // Simulated crash: compactSearchIndex died after folding ONLY
      // postings — docs/stats still live as positive shards, so a
      // doc's ownership row and its postings now disagree on layout.
      // A real crash inside compactSearchTables leaves the
      // `_compacting` marker it creates before the folds — recovery's
      // cheap gate for the horizon heal — so the simulation places it.
      new java.io.File(dir, "_compacting").createNewFile()
      graft.sources.ShardStore.compact(spark, s"$dir/postings",
        extraPartCols = Seq("_tb"))
      val pm = graft.sources.ShardStore.readMeta(spark, s"$dir/postings")
      assert(pm.isDefined && graft.sources.ShardStore
        .readMeta(spark, s"$dir/docs").isEmpty, "crash setup wrong")
      // Re-ingest a doc that lives in batch 0. WITHOUT the heal, the
      // retire keys off docs shard 0, finds no live postings there
      // (they folded into the base), and the old copy's postings stay
      // live — df/tf double-count forever.
      val redone = docs.filter($"doc_id" === 42)
        .withColumn("text", concat($"text", lit(" vector vector spark")))
      Corpus.upsertSearchIndexShard(redone, "doc_id", "text", dir,
        batchId = 2L, buckets = 8)
      val cur = docs.filter($"doc_id" =!= 42).unionByName(redone)
      assert(serve() == scanOf(cur),
        "partial compaction + re-ingest double-counted the old copy")
      // The heal converged the horizons.
      val hs = Seq("postings", "stats", "docs").map(t =>
        graft.sources.ShardStore.readMeta(spark, s"$dir/$t")
          .map(_.horizon))
      assert(hs.distinct.size == 1 && hs.head.isDefined,
        s"horizons not healed: $hs")
      // And a doc living in the healed BASE deletes cleanly too.
      Corpus.deleteDocs(spark, dir, Seq(44L).toDF("doc_id"), "doc_id")
      assert(serve() == scanOf(cur.filter($"doc_id" =!= 44)),
        "takedown inside the healed base left postings live")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("marker-less horizon desync (legacy / out-of-band per-table " +
    "fold): the WRITE path heals before retiring, with no _compacting " +
    "marker to gate on") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    val dir = java.nio.file.Files
      .createTempDirectory("searchlegacy").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 === 0),
        "doc_id", "text", dir, batchId = 0L, buckets = 8)
      Corpus.upsertSearchIndexShard(docs.filter($"doc_id" % 2 =!= 0),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      // An OUT-OF-BAND fold of one table only — no `_compacting`
      // marker anywhere (the pre-r17 crash layout, or an operator
      // compacting a single table by hand).
      graft.sources.ShardStore.compact(spark, s"$dir/postings",
        extraPartCols = Seq("_tb"))
      // Serving a desynced store is still correct (each table holds
      // every row exactly once)...
      assert(serve() == scanOf(docs), "desynced store mis-served")
      // ...and the next WRITE heals the layout before keying its
      // touched-shard rewrite off docs shard ids.
      val redone = docs.filter($"doc_id" === 42)
        .withColumn("text", concat($"text", lit(" vector vector spark")))
      Corpus.upsertSearchIndexShard(redone, "doc_id", "text", dir,
        batchId = 2L, buckets = 8)
      val cur = docs.filter($"doc_id" =!= 42).unionByName(redone)
      assert(serve() == scanOf(cur),
        "marker-less desync let the re-ingest double-count")
      val hs = Seq("postings", "stats", "docs").map(t =>
        graft.sources.ShardStore.readMeta(spark, s"$dir/$t")
          .map(_.horizon))
      assert(hs.distinct.size == 1 && hs.head.isDefined,
        s"write path did not heal the marker-less desync: $hs")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("asymmetric compaction: an EMPTY batch (stats-only shard) " +
    "re-lands every sibling base at the common horizon's id — takedown " +
    "of an old doc still finds its postings") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 150)
    val dir = java.nio.file.Files
      .createTempDirectory("searchasym").toString
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      Corpus.upsertSearchIndexShard(docs, "doc_id", "text", dir,
        batchId = 0L, buckets = 8)
      Corpus.compactSearchIndex(spark, dir)
      // An EMPTY micro-batch: postings/docs land no partition, stats
      // lands its 1-row (n_docs = 0) commit record — the tables'
      // shard sets now DISAGREE.
      Corpus.upsertSearchIndexShard(docs.limit(0), "doc_id", "text",
        dir, batchId = 1L, buckets = 8)
      Corpus.compactSearchIndex(spark, dir)
      // Coherence: one horizon AND one base id across all three —
      // a marker keeping a stale base id would break the retire
      // path's cross-table batch_id keying.
      val metas = Seq("postings", "stats", "docs").map(t =>
        graft.sources.ShardStore.readMeta(spark, s"$dir/$t").get)
      assert(metas.map(_.horizon).distinct.size == 1 &&
        metas.map(_.base).distinct.size == 1,
        s"asymmetric compaction desynced the tables: $metas")
      // The takedown of a pre-compaction doc must find its postings
      // inside the re-landed base.
      Corpus.deleteDocs(spark, dir, Seq(42L).toDF("doc_id"), "doc_id")
      assert(serve() == scanOf(docs.filter($"doc_id" =!= 42)),
        "takedown missed postings after an asymmetric compaction")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("partial batch write: a postings-only shard (crash before the " +
    "stats commit record) is NOT folded; the replay guard lets the " +
    "redelivery complete the batch") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 150)
    val dir = java.nio.file.Files
      .createTempDirectory("searchpart").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val terms = Seq("spark", "merge", "vector")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def serve() = rows(Corpus.bm25FromIndex(spark, dir, "doc_id", terms,
      topK = 10, buckets = 8))
    def scanOf(cur: org.apache.spark.sql.DataFrame) =
      rows(Corpus.bm25TopK(cur, "doc_id", "text", terms, topK = 10))
    try {
      val old = docs.filter($"doc_id" >= 60)
      val b2 = docs.filter($"doc_id" < 60)
      Corpus.upsertSearchIndexShard(old.filter($"doc_id" % 2 === 0),
        "doc_id", "text", dir, batchId = 0L, buckets = 8)
      Corpus.upsertSearchIndexShard(old.filter($"doc_id" % 2 =!= 0),
        "doc_id", "text", dir, batchId = 1L, buckets = 8)
      // Simulate a crash inside batch 2's write AFTER postings landed
      // but BEFORE docs/stats (the write order makes stats the commit
      // record): write the full batch, then delete its docs/stats.
      Corpus.upsertSearchIndexShard(b2, "doc_id", "text", dir,
        batchId = 2L, buckets = 8)
      Seq("docs", "stats").foreach(t => fs.delete(
        new org.apache.hadoop.fs.Path(s"$dir/$t/batch_id=2"), true))
      // An out-of-band compaction between the crash and the replay
      // must NOT count the partial batch: stats never committed id 2,
      // so the horizon stays at 1 and the orphan postings shard stays
      // a live stream shard above it.
      Corpus.compactSearchIndex(spark, dir)
      val hs = Seq("postings", "stats", "docs").map(t =>
        graft.sources.ShardStore.readMeta(spark, s"$dir/$t").get.horizon)
      assert(hs.forall(_ == 1L),
        s"partial batch poisoned the fold horizon: $hs")
      // The stream replays batch 2: the guard (horizon 1 < 2) lets it
      // through, the dynamic overwrite re-lands all three shards.
      Corpus.upsertSearchIndexShard(b2, "doc_id", "text", dir,
        batchId = 2L, buckets = 8)
      assert(serve() == scanOf(old.unionByName(b2)),
        "replayed partial batch did not complete the index")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("frozen BPE tokenizer: stored merges reproduce training forms " +
    "and segment UNSEEN words by the same greedy application") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpemodel").toString
    try {
      // Train on "aa"×3 + "ab": round 1 merges (a,a) → aa, round 2
      // merges (a,b) → ab.
      val train = Seq((1L, "aa aa aa ab")).toDF("doc_id", "text")
      Corpus.writeBpeModel(train, "text", dir, rounds = 2)
      val merges = spark.read.parquet(s"$dir/merges")
        .orderBy($"round").collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
      assert(merges.toSeq == Seq(("a", "a"), ("a", "b")))
      // Unseen words: "aab" → [aa, b] (greedy left-to-right, merge 2
      // no longer applies after merge 1 consumed the 'a'); "ba" →
      // [b, a] (no pair matches). Seen word "ab" → [ab].
      val enc = Corpus.bpeEncodeIndexed(
        Seq((9L, "aab ba ab")).toDF("doc_id", "text"),
        "doc_id", "text", dir).collect()
      assert(enc.length == 1)
      val r = enc(0)
      assert(r.getLong(1) == 3 && r.getLong(2) == 5 &&
        r.getLong(3) == 1666666L, s"got ${r.toSeq}")
      // Serving the TRAINING corpus from the stored model equals the
      // inline fertility report bit for bit.
      val docs = graft.Tables.t(spark, sf, "documents")
        .select($"doc_id", $"text").filter($"doc_id" < 200)
      val dir2 = java.nio.file.Files.createTempDirectory("bpemodel2").toString
      try {
        Corpus.writeBpeModel(docs, "text", dir2, rounds = 3)
        def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
          .toSet
        assert(rows(Corpus.bpeEncodeIndexed(docs, "doc_id", "text", dir2))
          == rows(Corpus.bpeFertility(docs, "doc_id", "text", rounds = 3)),
          "stored-model encode diverged from inline fertility")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir2))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("loss mask ≡ excision: unmasked tokens rebuild the clean text, " +
    "masked counts equal n_removed, for BOTH policies") {
    import spark.implicits._
    val base = graft.Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 300)
    val banner = base.select($"doc_id",
      when($"doc_id" % 5 === 0,
        concat(lit("cookie policy accept terms privacy notice all rights "),
          $"text")).otherwise($"text").as("text"))
    val corpus = banner.unionByName(banner.filter($"doc_id" % 20 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
    for (canonical <- Seq(false, true)) {
      val cut = (if (canonical)
        Dedup.exciseKeepCanonical(corpus, "doc_id", "text")
      else Dedup.exciseRepeatedIntervals(corpus, "doc_id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3)))
        .toMap
      val mask = Dedup.maskRepeatedIntervals(corpus, "doc_id", "text",
          keepCanonical = canonical)
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong,
          r.getString(2), r.getLong(3)))
      val byDoc = mask.groupBy(_._1)
      byDoc.foreach { case (doc, rows) =>
        val rebuilt = rows.filter(_._4 == 0L).sortBy(_._2)
          .map(_._3).mkString(" ")
        assert(rebuilt == cut(doc)._1,
          s"policy=$canonical doc $doc: mask-rebuild != clean_text")
        assert(rows.count(_._4 == 1L) == cut(doc)._2,
          s"policy=$canonical doc $doc: masked count != n_removed")
      }
      // Whole-copy pairs: under cut-all BOTH sides fully masked; under
      // keep-canonical the owner keeps its body unmasked.
      val copies = byDoc.keys.filter(_ >= 1000000L)
      assert(copies.nonEmpty)
      copies.foreach { c =>
        assert(byDoc(c).forall(_._4 == 1L) == true || !canonical ||
          byDoc(c).forall(_._4 == 1L),
          s"copy $c not fully masked under keep-canonical")
      }
      if (canonical)
        copies.foreach(c => assert(byDoc(c).forall(_._4 == 1L)))
      else {
        // cut-all: original AND copy of a pair both fully masked
        copies.foreach { c =>
          assert(byDoc(c).forall(_._4 == 1L))
          assert(byDoc(c - 1000000L).forall(_._4 == 1L))
        }
      }
    }
  }

  test("k-fold assignment: per-stratum fold sizes within one, every " +
    "row assigned exactly once, repartition-independent") {
    import spark.implicits._
    // 103 and 7 rows in two strata — both indivisible by 3 folds.
    val df = ((1 to 103).map(i => (i.toLong, "big")) ++
      (200 to 206).map(i => (i.toLong, "small"))).toDF("id", "st")
    def folds(d: org.apache.spark.sql.DataFrame) =
      Corpus.kFoldAssign(d, "id", "st", folds = 3)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val got = folds(df)
    assert(got.length == 110 && got.map(_._1).distinct.length == 110,
      "every row must be assigned exactly once")
    for ((st, n) <- Seq("big" -> 103, "small" -> 7)) {
      val sizes = got.filter(_._2 == st).groupBy(_._3)
        .view.mapValues(_.size).values.toSeq
      assert(sizes.sum == n && sizes.max - sizes.min <= 1,
        s"$st fold sizes $sizes not balanced")
    }
    assert(folds(df.repartition(7, col("id"))).toSet == got.toSet,
      "assignment must be a pure function of (seed, keys)")
  }

  test("bloom-gated decontamination: bit-equal to the exact form even " +
    "under a saturated filter full of false positives") {
    import spark.implicits._
    val bench = Seq((100L, "b1 b2 b3 b4 x9 x8")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "b1 b2 b3 b4 tail tokens here"),   // one contaminated window
      (2L, "clean doc nothing shared at all"),
      (3L, "x9 x8 not enough width"))          // sub-span overlap: clean
      .toDF("doc_id", "text")
    def run(mBits: Int) = Corpus.bloomGatedContamination(
        corpus, bench, "doc_id", "text", spanTokens = 4, k = 2,
        mBits = mBits)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_windows"), r.getAs[Long]("n_contaminated")))
      .toSet
    val exp = Set((1L, 4L, 1L), (2L, 3L, 0L), (3L, 2L, 0L))
    assert(run(1 << 20) == exp, "wide-filter run diverged from exact")
    // 16 bits, k=2: the bench windows saturate the domain, so most
    // clean windows bloom-positive — the exact verify must erase them.
    assert(run(16) == exp, "saturated-filter run diverged from exact")
  }

  test("session index: q211 and q231 serve a second call in the " +
    "session from the stored index without rewriting it") {
    Seq("q211_bm25_indexed" -> "q211_search", "q231_bpe_indexed" -> "q231_bpe")
      .foreach { case (q, name) =>
        def rows() = LlmQueries.queries(q)(spark, sf).collect()
          .map(_.toSeq.mkString("|")).sorted.toSeq
        val first = rows()
        val idx = new java.io.File(new org.apache.hadoop.fs.Path(
          LlmQueries.indexDir(spark, sf, name)).toUri.getPath)
        def stamps() = org.apache.commons.io.FileUtils
          .listFiles(idx, null, true).toArray
          .map { case f: java.io.File => f.getPath -> f.lastModified }.toMap
        val built = stamps()
        assert(built.nonEmpty, s"$q left no index at $idx")
        val second = rows()
        assert(stamps() == built, s"$q rewrote its session index")
        assert(second == first, s"$q served different rows")
      }
  }

  test("bloom index: no false negatives ever, forced false positive " +
    "under a tiny bit domain, write+merge equals one-shot") {
    import spark.implicits._
    val members = (1L to 40L).toDF("key")
    val dir = java.nio.file.Files.createTempDirectory("bloomidx").toString
    try {
      // Split with overlap: merge must union, not double or drop.
      Corpus.bloomPositions(members.filter(col("key") <= 25), "key",
        k = 3, mBits = 64).write.mode("overwrite").parquet(dir)
      graft.sources.ShardStore.upsert(Corpus.bloomPositions(
        members.filter(col("key") >= 20), "key", k = 3, mBits = 64), dir,
        Corpus.bloomMerge)
      def bits(d: org.apache.spark.sql.DataFrame) =
        d.select(col("pos")).as[Long].collect().toSet
      assert(bits(spark.read.parquet(dir)) ==
        bits(Corpus.bloomPositions(members, "key", k = 3, mBits = 64)),
        "merged bits diverged from the one-shot build")
      // Probe members ∪ non-members: every member MUST be positive
      // (one-sidedness is the operator's contract); with 40·3 draws in
      // 64 bits the table is ~85% full, so some non-member collides on
      // all 3 positions — the false positive the design admits.
      val probe = (1L to 200L).toDF("key")
      val got = Corpus.bloomProbe(spark.read.parquet(dir), probe, "key",
          k = 3, mBits = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 40L).forall(got(_) == 1L), "false negative")
      val fp = (41L to 200L).count(got(_) == 1L)
      assert(fp > 0, "expected at least one false positive at 85% fill")
      assert((41L to 200L).exists(got(_) == 0L),
        "a sane filter still rejects most non-members")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }
}
