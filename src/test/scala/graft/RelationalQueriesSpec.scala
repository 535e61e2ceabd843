package graft

import graft.operators.RelationalQueries

class RelationalQueriesSpec extends SparkSpec {

  test("every query runs at sf0.001 and has a matching oracle entry") {
    RelationalQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // materializes; throws on a broken plan
      assert(RelationalQueries.oracles.contains(name), s"$name has no oracle")
    }
  }

  test("oracle column aliases match the Spark result columns") {
    // The driver sorts columns by name before hashing: mismatched aliases
    // fail even when values agree. Cheap static check against the SQL text.
    RelationalQueries.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sf).columns
      val sql = RelationalQueries.oracles(name).toLowerCase
      cols.foreach { c =>
        // Word-boundary match: a bare substring test passes spuriously
        // (e.g. column `hour` matching `date_trunc('hour', …)`).
        val re = ("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
        assert(re.findFirstIn(sql).isDefined,
          s"$name: column $c not in oracle SQL as a word")
      }
    }
  }

  test("q01 pricing summary aggregates exactly") {
    val df = RelationalQueries.queries("q01_agg_pricing_summary")(spark, sf)
    val rows = df.collect()
    assert(rows.length > 0 && rows.length <= 9) // |returnflag| x |linestatus|
    val counts = rows.map(_.getAs[Long]("count_order")).sum
    assert(counts > 0)
  }

  test("q03 star join keeps dimension joins broadcast") {
    val df = RelationalQueries.queries("q03_join_agg_regional_revenue")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q03 prunes customer by region before the orders join") {
    val df = RelationalQueries.queries("q03_join_agg_regional_revenue")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    // The region predicate must sit under the fact join, not above it: the
    // filter is pushed to the region scan and only broadcast joins touch it.
    val factJoinIdx = plan.indexOf("o_custkey")
    val regionFilterIdx = plan.indexOf("ASIA")
    assert(factJoinIdx >= 0 && regionFilterIdx > factJoinIdx,
      s"region filter not below the fact join:\n$plan")
  }

  test("q06 pre-aggregates orders below the left-outer join") {
    val df = RelationalQueries.queries("q06_left_outer_order_counts")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("Join")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"expected orders aggregated below the join (agg after join line):\n$plan")
  }

  test("q02 pushes filter and projection into the parquet scan") {
    val df = RelationalQueries.queries("q02_filter_project")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan"),
      s"filter not pushed:\n$scan")
  }

  test("asof join: latest at-or-before wins, equal-ts included, no-match null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 50L),
      (4L, 77L, 500L)).toDF("event_id", "user_id", "tsm")
    val purchases = Seq((10L, 100L, 7L), (10L, 200L, 9L), (10L, 205L, 11L))
      .toDF("user_id", "tsm", "k")
    val out = RelationalQueries.asofJoinBackward(
        clicks, purchases, "user_id", "tsm", "k", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(out(1L) == Some(7L))   // equal-ts purchase included
    assert(out(2L) == Some(11L))  // latest of three
    assert(out(3L) == None)       // before any purchase
    assert(out(4L) == None)       // user with no purchases
  }

  test("events loader normalizes every historical ts layout to LTZ micros") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The driver regenerates testdata between rounds and the ts physical
    // type has drifted (nanos-as-long rounds <=9, TIMESTAMP_NTZ round
    // 10+). Synthesize both layouts and assert Tables.events yields the
    // identical TIMESTAMP_LTZ instant for each.
    val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    val dir = java.nio.file.Files.createTempDirectory("events_drift")
    try {
      val nanosDir = s"$dir/nanos"
      val ntzDir = s"$dir/ntz"
      Seq((1L, micros * 1000, 10L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$nanosDir/events.parquet")
      Seq((1L, micros, 10L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
        .write.parquet(s"$ntzDir/events.parquet")
      // Struct-props layout: loader renders it back to a JSON string.
      val structDir = s"$dir/structprops"
      Seq((1L, micros, 10L, "click", 1.0, 7L))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "k")
        .withColumn("ts", timestamp_micros(col("ts")))
        .withColumn("props", struct(col("k")))
        .drop("k")
        .write.parquet(s"$structDir/events.parquet")
      for (d <- Seq(nanosDir, ntzDir, structDir)) {
        val got = Tables.events(spark, d)
        assert(got.schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampType, s"layout $d")
        assert(got.select(unix_micros(col("ts"))).head.getLong(0) == micros,
          s"layout $d")
        assert(got.schema("props").dataType ==
          org.apache.spark.sql.types.StringType, s"layout $d")
      }
      assert(Tables.events(spark, structDir)
        .select(get_json_object(col("props"), "$.k").cast("long"))
        .head.getLong(0) == 7L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("asof join agrees with a brute-force reference on random inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    // Small key/ts domains force collisions: same-ts left/right rows,
    // duplicate right rows at one (key, ts), keys with no right rows.
    val rowGen = for {
      key <- Gen.chooseNum(1L, 5L)
      ts <- Gen.chooseNum(0L, 20L)
      v <- Gen.chooseNum(1L, 100L)
    } yield (key, ts, v)
    // Fixed seed: failures reproduce, and pureApply never returns None.
    val leftRows = Gen.listOfN(80, rowGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(12L))
      .zipWithIndex
      .map { case ((k, ts, _), i) => (i.toLong, k, ts) }
    val rightRows = Gen.listOfN(60, rowGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(13L))
    val left = leftRows.toDF("event_id", "user_id", "tsm")
    val right = rightRows.toDF("user_id", "tsm", "k")
    val got = RelationalQueries.asofJoinBackward(
        left, right, "user_id", "tsm", "k", "v")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    // Reference: latest at-or-before right row; value ties -> greatest.
    val expect = leftRows.map { case (id, k, ts) =>
      val cands = rightRows.filter(r => r._1 == k && r._2 <= ts)
      id -> (if (cands.isEmpty) None
             else Some(cands.maxBy(r => (r._2, r._3))._3))
    }.toMap
    assert(got.size == expect.size)
    expect.foreach { case (id, e) =>
      assert(got(id).map(_.asInstanceOf[Long]) == e,
        s"event $id: expected $e got ${got(id)}")
    }
    // The timeline form must agree on the same random inputs under every
    // join mode — including the binary-search asof_probe path (long ts)
    // against the same brute-force reference.
    for (hint <- Seq(None, Some(true), Some(false))) {
      val tl = graft.streaming.EventsStream.attributeStream(
          left, right, "user_id", "tsm", "k", "v", hint)
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("v")).map(_.asInstanceOf[Long])).toMap
      expect.foreach { case (id, e) =>
        assert(tl(id) == e,
          s"attributeStream($hint) event $id: expected $e got ${tl(id)}")
      }
    }
    // The chunked (hot-key-safe) form must agree too, across widths that
    // exercise every path: width 1 (singleton buckets → carry/miss rows
    // dominate), a mid width (mixed hit/carry), and a width so large every
    // key collapses to one bucket (degenerates to the packed form).
    for (w <- Seq(1L, 7L, 1000000L)) {
      val tl = graft.streaming.EventsStream.attributeStream(
          left, right, "user_id", "tsm", "k", "v",
          bucketWidth = Some(w))
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("v")).map(_.asInstanceOf[Long])).toMap
      assert(tl.size == expect.size, s"chunked(w=$w) row count: ${tl.size}")
      expect.foreach { case (id, e) =>
        assert(tl(id) == e,
          s"attributeStreamChunked(w=$w) event $id: expected $e got ${tl(id)}")
      }
    }
  }

  test("asof join: null-valued latest row yields null, matching the ASOF oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // DuckDB ASOF picks the latest at-or-before ROW regardless of its
    // value; a null value must come through as null, not fall back to an
    // older non-null row. Both operator forms must agree.
    val clicks = Seq((1L, 10L, 200L), (2L, 10L, 120L), (3L, 10L, 100L))
      .toDF("event_id", "user_id", "tsm")
    val purchases = Seq[(Long, Long, Option[Long])](
      (10L, 100L, Some(7L)),      // tie at ts=100 with a null-valued row:
      (10L, 100L, None),          //   non-null wins the tie
      (10L, 150L, None))          // sole latest for click 1: null wins
      .toDF("user_id", "tsm", "k")
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[Any]("v")).map(_.asInstanceOf[Long])).toMap
    val expect = Map(1L -> None, 2L -> Some(7L), 3L -> Some(7L))
    val batch = run(RelationalQueries.asofJoinBackward(
      clicks, purchases, "user_id", "tsm", "k", "v"))
    assert(batch == expect, s"asofJoinBackward: $batch")
    for (hint <- Seq(None, Some(true), Some(false))) {
      val tl = run(graft.streaming.EventsStream.attributeStream(
        clicks, purchases, "user_id", "tsm", "k", "v", hint))
      assert(tl == expect, s"attributeStream($hint): $tl")
    }
    // Chunked form: width 40 splits ts∈{100,120,150,200} across buckets so
    // click 2 (ts=120, bucket 3) resolves via _carry from bucket 2, and the
    // null-valued sole-latest row must still win for click 1.
    for (w <- Seq(1L, 40L, 1000L)) {
      val tl = run(graft.streaming.EventsStream.attributeStream(
        clicks, purchases, "user_id", "tsm", "k", "v",
        bucketWidth = Some(w)))
      assert(tl == expect, s"attributeStreamChunked(w=$w): $tl")
    }
  }

  test("asof join: duplicate (key, ts) right rows resolve deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clicks = Seq((1L, 10L, 200L)).toDF("event_id", "user_id", "tsm")
    // Two purchases at the SAME (user, ts): the greatest value must win on
    // every run and under every right-side partitioning/order.
    val dupA = Seq((10L, 100L, 7L), (10L, 100L, 9L))
      .toDF("user_id", "tsm", "k")
    val dupB = dupA.repartition(7, col("k")).sortWithinPartitions(desc("k"))
    for (right <- Seq(dupA, dupB)) {
      val got = RelationalQueries.asofJoinBackward(
          clicks, right, "user_id", "tsm", "k", "v")
        .collect().map(r => r.getAs[Long]("v"))
      assert(got.toSeq == Seq(9L), s"tie not deterministic: ${got.toSeq}")
    }
  }

  test("asof forward: earliest at-or-after wins, equal-ts included, ties deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 300L),
      (4L, 77L, 500L)).toDF("event_id", "user_id", "tsm")
    val purchases = Seq((10L, 100L, 7L), (10L, 200L, 9L), (10L, 205L, 11L))
      .toDF("user_id", "tsm", "k")
    val out = RelationalQueries.asofJoinForward(
        clicks, purchases, "user_id", "tsm", "k", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(out(1L) == Some(7L))   // equal-ts purchase included
    assert(out(2L) == Some(11L))  // equal-ts, skips the earlier ones
    assert(out(3L) == None)       // after every purchase
    assert(out(4L) == None)       // user with no purchases
    // Duplicate (key, ts) right rows: greatest value wins on every run.
    val dup = Seq((10L, 300L, 7L), (10L, 300L, 9L)).toDF("user_id", "tsm", "k")
    for (right <- Seq(dup, dup.repartition(7, col("k"))
        .sortWithinPartitions(desc("k")))) {
      val got = RelationalQueries.asofJoinForward(
          clicks.filter($"event_id" === 1L), right, "user_id", "tsm", "k", "v")
        .collect().map(_.getAs[Long]("v"))
      assert(got.toSeq == Seq(9L), s"tie not deterministic: ${got.toSeq}")
    }
  }

  test("asof tolerance: stale matches null out, fresh survive, boundary included") {
    import spark.implicits._
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 10L, 150L))
      .toDF("event_id", "user_id", "tsm")
    val purchases = Seq((10L, 90L, 7L), (10L, 100L, 9L))
      .toDF("user_id", "tsm", "k")
    val out = RelationalQueries.asofJoinBackwardTolerance(
        clicks, purchases, "user_id", "tsm", "k", "v",
        toleranceMicros = 50L)
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L) == Some(9L))  // gap 0 <= 50
    assert(out(2L) == None)      // latest at 100, gap 150 > 50 -> stale
    assert(out(3L) == Some(9L))  // gap 50 == tolerance: included
  }

  test("asof nearest: closer side wins, ties to backward, one-sided falls through") {
    import spark.implicits._
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 140L), (3L, 10L, 50L),
      (4L, 10L, 300L), (5L, 10L, 160L), (6L, 10L, 145L))
      .toDF("event_id", "user_id", "tsm")
    val purchases = Seq((10L, 90L, 7L), (10L, 200L, 9L))
      .toDF("user_id", "tsm", "k")
    val out = RelationalQueries.asofJoinNearest(
        clicks, purchases, "user_id", "tsm", "k", "v")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L) == Some(7L))  // 10 back vs 100 fwd
    assert(out(2L) == Some(7L))  // 50 back vs 60 fwd
    assert(out(3L) == Some(7L))  // before all: forward only
    assert(out(4L) == Some(9L))  // after all: backward only
    assert(out(5L) == Some(9L))  // 70 back vs 40 fwd -> forward
    assert(out(6L) == Some(7L))  // exact 55/55 tie -> backward
  }

  test("range join by bucket: boundaries, multi-bucket spans, empty intervals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Buckets of width 10. Intervals: [10,30) spans buckets 10+20; [25,26)
    // inside one bucket; [40,50) empty. Points at 10 (== start, in), 29
    // (in), 30 (== end, out), 25 (in second interval), 7 (nowhere).
    val intervals = Seq(("a", 10L, 30L), ("b", 25L, 26L), ("c", 40L, 50L))
      .toDF("iid", "s", "e")
    val points = Seq((1L, 10L), (2L, 29L), (3L, 30L), (4L, 25L), (5L, 7L))
      .toDF("pid", "tsm")
    val got = RelationalQueries.rangeJoinByBucket(
        points, "tsm", intervals, "s", "e", bucketMicros = 10L)
      .groupBy($"iid").agg(sort_array(collect_list($"pid")).as("pids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got("a") == Seq(1L, 2L, 4L)) // 10 in, 25 in, 29 in, 30 out
    assert(got("b") == Seq(4L))
    assert(got("c") == Seq())           // empty interval SURVIVES (left)
    // Against the brute-force inequality join on the same data.
    val brute = intervals.join(points,
        points("tsm") >= intervals("s") && points("tsm") < intervals("e"))
      .groupBy($"iid").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.view.mapValues(_.size.toLong).toMap ==
      brute ++ Map("c" -> 0L))
  }

  test("pagerank: two hand-computed integer-exact iterations") {
    import spark.implicits._
    // A→B, A→C, B→A; C dangling. ppb math by hand:
    //   iter1: A gets B's 10⁹ → 0.15e9 + 0.85e9 = 1e9;
    //          B, C each get 10⁹ div 2 = 5e8 → 0.15e9 + 4.25e8 = 5.75e8.
    //   iter2: A gets B's 5.75e8 → 150000000 + (85·575000000) div 100
    //          = 638750000; B, C unchanged at 575000000.
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "A")).toDF("src", "dst")
    val got = graft.graphquery.Graph.pageRank(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 638750000L, "B" -> 575000000L,
      "C" -> 575000000L), s"got $got")
    // Rank mass never exceeds |V|·10⁹ (dangling mass only leaks out).
    assert(got.values.sum <= 3000000000L)
  }

  test("pagerank: reliable-checkpoint escape hatch produces identical ranks") {
    import spark.implicits._
    // Results must be bit-identical to the local form.
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "A")).toDF("src", "dst")
    val got = withReliableCheckpoints {
      graft.graphquery.Graph.pageRank(edges, "src", "dst", iters = 2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(got == Map("A" -> 638750000L, "B" -> 575000000L,
      "C" -> 575000000L), s"got $got")
  }

  /** A 10-node chain closing into a 5-cycle: its closure has 9+8+…+5
    * chain pairs plus 5×5 cycle pairs = 35 + 25, after several doubling
    * rounds. */
  private def chainIntoCycle = {
    import spark.implicits._
    val chain = (0 until 9).map(i => (s"n$i", "urn:p/next", s"n${i + 1}"))
    (chain :+ (("n9", "urn:p/next", "n5"))).toDF("s", "p", "o")
  }

  test("observed fixpoints (pathPlus, bfsHops, connectedComponents): " +
    "reliable checkpoints give the local-checkpoint results") {
    import spark.implicits._
    // Each of these loops reads its convergence scalar from its round's
    // eager cut — the row count of the closure's RDD cut
    // (Checkpoints.cutEagerCollecting), `observe` metrics for the other two
    // (Checkpoints.cutEagerObserved). Under reliable checkpoints the
    // scalar must come out the same, or a loop stops early or late.
    // This 60-pair closure finishes on the driver after round 0, so
    // pointerDoubling at 8 rows per partition runs every round as an
    // RDD cut, and at 16 the closure is handed back after its round 0.
    val parents = chainIntoCycle
    val edges = parents.select("s", "o")
    def closure(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val hops = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "f"), ("x", "y")).toDF("s", "d")
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (14L, 15L), (20L, 21L), (21L, 22L), (22L, 20L)).toDF("d1", "d2")
    val nodes = (Seq(30L) ++ (10L to 15L) ++ (20L to 22L)).toDF("doc_id")
    def run() = (
      closure(graft.graphquery.Bgp.pathPlus(parents, "urn:p/next", "anc")),
      graft.graphquery.Graph.bfsHops(hops, "s", "d", "a")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      graft.llm.Dedup.connectedComponents(pairs, "d1", "d2", nodes, "doc_id")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("component_id")).toMap,
      closure(graft.graphquery.Bgp.pointerDoubling(edges, 20, Nil, 8)),
      closure(graft.graphquery.Bgp.pointerDoubling(edges, 20, Nil, 16)))
    val local = run()
    assert(local._1.size == 60, s"pathPlus: ${local._1.size} pairs")
    assert(local._4 == local._1 && local._5 == local._1)
    assert(local._2 == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L,
      "e" -> 4L, "f" -> 5L), s"bfsHops: ${local._2}")
    assert(local._3 == ((10L to 15L).map(_ -> 10L) ++
      (20L to 22L).map(_ -> 20L) ++ Seq(30L -> 30L)).toMap,
      s"connectedComponents: ${local._3}")
    assert(withReliableCheckpoints(run()) == local)
  }

  test("pathPlus gives the same closure at 1, 4 and 7 shuffle partitions") {
    // The closure's partition count follows its row count, capped by
    // spark.sql.shuffle.partitions. At eight rows per partition this
    // closure goes from the input's partitions to 2, then 4 (up to the
    // cap), so the rounds that re-partition it run too.
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val edges = chainIntoCycle.select("s", "o")
    try {
      val closures = Seq(1, 4, 7).flatMap { n =>
        spark.conf.set(key, n.toString)
        Seq(graft.graphquery.Bgp.pathPlus(chainIntoCycle, "urn:p/next", "anc"),
          graft.graphquery.Bgp.pointerDoubling(edges, 20, Nil, 8))
          .map(_.collect().map(r => (r.getString(0), r.getString(1))).toSet)
      }
      assert(closures.head.size == 60, s"${closures.head.size} pairs")
      assert(closures.forall(_ == closures.head))
    } finally spark.conf.set(key, saved)
  }

  test("pointerDoubling: the RDD loop, the driver finish and its hand-back " +
    "give the same closure at every maxRounds") {
    // At 8 rows per partition every round runs as an RDD job; at 16 the
    // 10 input rows are collected after round 0, and round 1 (20 pairs)
    // outgrows the step on the driver and is handed back to the RDD
    // loop; at 10000 the closure finishes on the driver. A truncated
    // closure must be the same set on every path.
    val edges = chainIntoCycle.select("s", "o")
    for ((maxRounds, pairs) <- Seq(1 -> 20, 2 -> 40, 20 -> 60)) {
      val closures = Seq(8L, 16L, 10000L).map { step =>
        graft.graphquery.Bgp.pointerDoubling(edges, maxRounds, Nil, step)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      }
      assert(closures.head.size == pairs,
        s"maxRounds $maxRounds: ${closures.head.size} pairs")
      assert(closures.forall(_ == closures.head), s"maxRounds $maxRounds")
    }
  }

  test("range join by bucket agrees with brute force on random intervals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    // Short and long intervals, boundary-heavy: widths from 1 (sub-bucket)
    // to 35 (multi-bucket) over a small ts domain, bucket width 10.
    val ivGen = for {
      s <- Gen.chooseNum(0L, 80L)
      w <- Gen.chooseNum(1L, 35L)
    } yield (s, s + w)
    val ivs = Gen.listOfN(40, ivGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(21L))
      .zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
    val pts = Gen.listOfN(120, Gen.chooseNum(0L, 120L))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(22L))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val intervals = ivs.toDF("iid", "s", "e")
    val points = pts.toDF("pid", "tsm")
    val got = RelationalQueries.rangeJoinByBucket(
        points, "tsm", intervals, "s", "e", bucketMicros = 10L)
      .groupBy($"iid").agg(count($"pid").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = ivs.map { case (iid, s, e) =>
      iid -> pts.count { case (_, t) => t >= s && t < e }.toLong
    }.toMap
    assert(got == expect,
      s"diverges: ${got.toSet.diff(expect.toSet).take(5)}")
  }

  test("funnel fold agrees with an imperative reference on random inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    val evGen = for {
      u <- Gen.chooseNum(1L, 8L)
      ts <- Gen.chooseNum(0L, 50L)
      et <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (u, ts, et)
    val rows = Gen.listOfN(200, evGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(23L))
    val gap = 15L
    val got = rows.toDF("user_id", "tsm", "event_type")
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"tsm", $"event_type")))
        .as("_evs"))
      .withColumn("stage", expr(RelationalQueries.funnelFoldExpr(gap)))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    val expect = rows.groupBy(_._1).map { case (u, evs) =>
      var stage = 0L; var sts = 0L
      for ((_, ts, et) <- evs.map(e => (e._1, e._2, e._3))
          .sortBy(e => (e._2, e._3))) {
        val adv = (stage, et) match {
          case (0L, "view")     => true
          case (1L, "click")    => ts > sts && ts - sts <= gap
          case (2L, "purchase") => ts > sts && ts - sts <= gap
          case _                => false
        }
        if (adv) { stage += 1; sts = ts }
      }
      u -> stage
    }
    assert(got == expect, s"diverges: ${got.toSet.diff(expect.toSet).take(5)}")
  }

  test("triangles: undirected closure, direction/dup/self-loop immune, count exact") {
    import spark.implicits._
    // K3 {A,B,C} plus a tail C-D, fed with reversed duplicates, a
    // multi-edge, and a self-loop — all must collapse to the same
    // undirected graph. One triangle: A, B, C each count 1; D none.
    val edges = Seq(("A", "B"), ("B", "A"), ("B", "C"), ("A", "C"),
      ("A", "C"), ("C", "D"), ("D", "D")).toDF("src", "dst")
    val got = graft.graphquery.Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 1L, "B" -> 1L, "C" -> 1L), s"got $got")
    // Two triangles sharing an edge: diamond A-B-C-D with chord B-C.
    val diamond = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("B", "D"),
      ("C", "D")).toDF("src", "dst")
    val got2 = graft.graphquery.Graph.triangleCounts(diamond, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == Map("A" -> 1L, "B" -> 2L, "C" -> 2L, "D" -> 1L),
      s"got $got2")
  }

  test("ewma fold: hand-computed ppm chain, single-event identity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // cents sequence 1000, 2000, 500 in time order:
    //   s1 = 1000
    //   s2 = (900000·1000 + 100000·2000) div 10⁶ = 1100
    //   s3 = (900000·1100 + 100000·500)  div 10⁶ = 1040
    // Single event: the fold is just the head.
    val rows = Seq((1L, 10L, 10.0), (1L, 20L, 20.0), (1L, 30L, 5.0),
      (2L, 5L, 7.77)).toDF("user_id", "tsm", "value")
    val got = rows
      .select($"user_id", $"tsm",
        (graft.Exact.dec($"value") * 100).cast("long").as("cents"))
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"tsm", $"cents"))).as("_evs"))
      .select($"user_id", expr("""aggregate(
        |  slice(transform(_evs, e -> e.cents), 2, size(_evs) - 1),
        |  _evs[0].cents,
        |  (a, x) -> (900000L * a + 100000L * x) div 1000000L)"""
        .stripMargin).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1040L, 2L -> 777L), s"got $got")
  }

  test("bucketed fact-to-fact join runs with zero exchanges") {
    // The relational twin of the dedup-index bucketing discipline: both
    // fact tables written bucketed+sorted on the join key join WITHOUT
    // any shuffle — at 100 TB this is the difference between re-sorting
    // two fact tables per join and reading them co-located. (SMJ still
    // shows a Sort over the bucketed scan — Spark does not yet trust
    // sortBy metadata across files — but the EXCHANGES, the network
    // cost, are gone; bucket counts must match.)
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("b_orders")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("b_lineitem")
    // merge hint: at sf0.001 the sides are broadcast-sized and a
    // BroadcastExchange would mask the point — force the sort-merge
    // path the bucketed layout exists for.
    val joined = spark.table("b_orders").hint("merge")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should be exchange-free:\n$plan")
    // And it computes the right thing.
    assert(joined.count() ==
      l.join(o, col("l_orderkey") === col("o_orderkey")).count())
  }

  test("weighted pagerank: hand-computed proportional split, parallel edges sum") {
    import spark.implicits._
    // A→B w3, A→C w1, B→A w1; deg A=4, B=1. One iteration:
    //   B gets (10⁹·3) div 4 = 75e7 → 150e6 + (85·75e7) div 100 = 787500000
    //   C gets 25e7                → 150e6 + 212500000 = 362500000
    //   A gets B's 10⁹             → 10⁹
    // The w3 edge arrives SPLIT as w2+w1 — parallel edges must sum.
    val edges = Seq(("A", "B", 2L), ("A", "B", 1L), ("A", "C", 1L),
      ("B", "A", 1L)).toDF("src", "dst", "w")
    val got = graft.graphquery.Graph.pageRank(edges, "src", "dst",
        iters = 1, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 1000000000L, "B" -> 787500000L,
      "C" -> 362500000L), s"got $got")
  }

  test("personalized pagerank: seed-only teleport, mass flows outward") {
    import spark.implicits._
    // Seeds {A}; A→B, B→A, B→C. One iteration:
    //   A: damped inflow 0 (B starts at 0) + seed base = 150000000
    //   B: (85·10⁹ div 1) div 100 = 850000000, no base
    //   C: 0 inflow, no base → 0
    val edges = Seq(("A", "B"), ("B", "A"), ("B", "C")).toDF("src", "dst")
    val seeds = Seq("A").toDF("node")
    val got = graft.graphquery.Graph.personalizedPageRank(
        edges, "src", "dst", seeds, "node", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 150000000L, "B" -> 850000000L, "C" -> 0L),
      s"got $got")
  }

  test("q131 user journey: five analytics, exactly one shuffle") {
    val df = RelationalQueries.queries("q131_user_journey")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"journey should be one keyed shuffle, found $exchanges:\n$plan")
    // And the metrics agree with their standalone single-metric queries.
    val journey = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val funnel = RelationalQueries.queries("q123_funnel")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stageHist = journey.values.groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    assert(funnel == stageHist.filter(_._2 > 0),
      s"journey stages $stageHist != q123 $funnel")
  }

  test("conversion cycles: non-overlap greedy reset, expiry strands mid-cycle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val day = 86400000000L
    val rows = Seq(
      // u1: two full cycles back-to-back, second anchored after reset.
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (1L, 40L, "view"), (1L, 50L, "click"), (1L, 60L, "purchase"),
      // u2: completes one, then a second stalls past the window.
      (2L, 10L, "view"), (2L, 20L, "click"), (2L, 30L, "purchase"),
      (2L, 40L, "view"), (2L, 40L + day + 1L, "click"),
      // u3: never converts.
      (3L, 5L, "view"), (3L, 6L, "click"))
      .toDF("user_id", "tsm", "event_type")
    val got = rows.groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"tsm", $"event_type")))
        .as("_evs"))
      .withColumn("c", expr(
        """aggregate(_evs,
          |  named_struct('s', 0L, 't', 0L, 'c', 0L),
          |  (a, x) -> CASE
          |    WHEN a.s = 0 AND x.event_type = 'view'
          |      THEN named_struct('s', 1L, 't', x.tsm, 'c', a.c)
          |    WHEN a.s = 1 AND x.event_type = 'click' AND x.tsm > a.t
          |        AND x.tsm - a.t <= 86400000000L
          |      THEN named_struct('s', 2L, 't', x.tsm, 'c', a.c)
          |    WHEN a.s = 2 AND x.event_type = 'purchase' AND x.tsm > a.t
          |        AND x.tsm - a.t <= 86400000000L
          |      THEN named_struct('s', 0L, 't', 0L, 'c', a.c + 1L)
          |    ELSE a END,
          |  a -> a.c)""".stripMargin))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("c")).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 0L), s"got $got")
  }

  test("k-core: cascading peel reaches the fixpoint, empty core is empty") {
    import spark.implicits._
    // Triangle A-B-C with a tail C-D-E. Peeling the 2-core cascades: E
    // (degree 1) goes first, THEN D drops to degree 1 and goes — two
    // rounds, leaving exactly the triangle at degree 2 each.
    val edges = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"),
      ("D", "E")).toDF("src", "dst")
    val core2 = graft.graphquery.Graph.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core2 == Map("A" -> 2L, "B" -> 2L, "C" -> 2L), s"got $core2")
    // No 3-core exists: the triangle's degrees are all 2.
    assert(graft.graphquery.Graph.kCore(edges, "src", "dst", k = 3)
      .count() == 0)
  }

  test("label propagation: majority adoption, smallest-label ties, sync rounds") {
    import spark.implicits._
    // Star A-{B,C,D} plus edge B-C. Round 1 (synchronous): A sees
    // {B,C,D} all once -> tie -> B; B sees {A,C} -> A; C sees {A,B} -> A;
    // D sees {A} -> A. Round 2: A sees {A,A,A} -> A; B sees {B,A} tie ->
    // A; C same -> A; D sees {B} -> B.
    val edges = Seq(("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"))
      .toDF("src", "dst")
    val r1 = graft.graphquery.Graph.labelPropagation(edges, "src", "dst", 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r1 == Map("A" -> "B", "B" -> "A", "C" -> "A", "D" -> "A"),
      s"round 1: $r1")
    val r2 = graft.graphquery.Graph.labelPropagation(edges, "src", "dst", 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(r2 == Map("A" -> "A", "B" -> "A", "C" -> "A", "D" -> "B"),
      s"round 2: $r2")
  }

  test("funnel fold: ties never advance, window expiry strands a stage") {
    import spark.implicits._
    val day = 86400000000L
    val events = Seq(
      // u1: click tied with view is skipped; purchase tied with click is
      // skipped; later purchase converts → stage 3.
      (1L, 10L, "view"), (1L, 10L, "click"), (1L, 15L, "click"),
      (1L, 15L, "purchase"), (1L, 20L, "purchase"),
      // u2: only click arrives past the 24 h window → stage 1.
      (2L, 0L, "view"), (2L, day + 1L, "click"),
      // u3: no view at all → stage 0.
      (3L, 5L, "purchase"))
      .toDF("user_id", "tsm", "event_type")
    // The q123 entry reads the events table, so test its fold (the
    // shared funnelFoldExpr) over a raw df.
    val got = events.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct($"tsm", $"event_type")))
        .as("_evs"))
      .withColumn("stage", org.apache.spark.sql.functions.expr(
        RelationalQueries.funnelFoldExpr()))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("stage")).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 0L), s"got $got")
  }

  test("scd2: runs collapse, ranges chain half-open, open row current") {
    import spark.implicits._
    val log = Seq(
      // k1: A A B A — the repeat collapses, the return to A is a NEW
      // version (SCD2 keeps history, not a distinct set).
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "A"),
      // k2: single version → one open row.
      (2L, 5L, 5L, "X"))
      .toDF("k", "ts", "id", "v")
    val got = RelationalQueries.scd2(log, "k", "ts", "id", "v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4))).toSet
    assert(got == Set(
      (1L, "A", 10L, Some(30L), 0L),
      (1L, "B", 30L, Some(40L), 0L),
      (1L, "A", 40L, None, 1L),
      (2L, "X", 5L, None, 1L)), s"got $got")
  }

  test("scd2: same-ts change rows resolve by the tie column") {
    import spark.implicits._
    // Two changes at ts=10: the tie order (id) decides version order —
    // id=1 "A" then id=2 "B"; A's range is empty-but-present [10, 10).
    val log = Seq((1L, 10L, 1L, "A"), (1L, 10L, 2L, "B"))
      .toDF("k", "ts", "id", "v")
    val got = RelationalQueries.scd2(log, "k", "ts", "id", "v")
      .collect()
      .map(r => (r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    assert(got == Set(("A", 10L, Some(10L)), ("B", 10L, None)),
      s"got $got")
  }

  test("streaks: islands split on gaps, duplicates collapse, singletons kept") {
    import spark.implicits._
    val days = Seq(
      // u1: 1,2,3 then 5,6 — two islands; day 2 duplicated.
      (1L, 1L), (1L, 2L), (1L, 2L), (1L, 3L), (1L, 5L), (1L, 6L),
      // u2: one lone day.
      (2L, 9L))
      .toDF("u", "d")
    val got = RelationalQueries.activityStreaks(days, "u", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, 1L, 3L), (1L, 5L, 2L), (2L, 9L, 1L)),
      s"got $got")
  }

  test("snapshot diff: added/removed/changed classified, unchanged dropped") {
    import spark.implicits._
    val cur = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "v")
    val prior = Seq((2L, "b", 20L), (3L, "c", 31L), (4L, "d", 40L))
      .toDF("k", "name", "v")
    val got = RelationalQueries
      .snapshotDiff(cur, prior, "k", Seq("name", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 only in cur → added; 2 identical → dropped; 3 value moved →
    // changed; 4 only in prior → removed.
    assert(got == Map(1L -> "added", 3L -> "changed", 4L -> "removed"),
      s"got $got")
  }

  test("snapshot diff: null-vs-value counts as changed") {
    import spark.implicits._
    val cur = Seq((1L, Some(10L)), (2L, Option.empty[Long]))
      .toDF("k", "v")
    val prior = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("k", "v")
    val got = RelationalQueries.snapshotDiff(cur, prior, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // k=1 null→10 is a change; k=2 null==null is unchanged.
    assert(got == Map(1L -> "changed"), s"got $got")
  }

  test("transition matrix: pair counts and exact ppm normalization") {
    import spark.implicits._
    val ev = Seq(
      // u1: a→b, b→a, a→b ; u2: a→b. Totals: from a {b:3}, from b {a:1}.
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "a"),
      (1L, 4L, 4L, "b"),
      (2L, 1L, 5L, "a"), (2L, 2L, 6L, "b"),
      // u3: single event → no pair.
      (3L, 1L, 7L, "c"))
      .toDF("u", "ts", "id", "s")
    val got = RelationalQueries.transitionMatrix(ev, "u", "ts", "id", "s")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      ("a", "b") -> (3L, 1000000L),
      ("b", "a") -> (1L, 1000000L)), s"got $got")
  }

  test("transition matrix: split distribution floors to ppm") {
    import spark.implicits._
    // From a: b twice, c once → b 666666 ppm, c 333333 ppm (floor).
    val ev = Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"),
      (1L, 3L, 3L, "a"), (1L, 4L, 4L, "c"),
      (2L, 1L, 5L, "a"), (2L, 2L, 6L, "b"))
      .toDF("u", "ts", "id", "s")
    val got = RelationalQueries.transitionMatrix(ev, "u", "ts", "id", "s")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got == Map(("a", "b") -> 666666L, ("a", "c") -> 333333L,
      ("b", "a") -> 1000000L), s"got $got")
  }

  test("zorder16: hand-computed interleaves, coordinate bits land apart") {
    import spark.implicits._
    // x=3 (bits 0,1) → 2⁰+2² = 5; y=5 (bits 0,2) → 2¹+2⁵ = 34; z = 39.
    // x alone fills even positions, y alone odd; 16-bit max → 0x55555555
    // and 0xAAAAAAAA respectively.
    val df = Seq((3L, 5L), (0L, 0L), (65535L, 0L), (0L, 65535L),
      (1L, 1L)).toDF("x", "y")
      .withColumn("z", RelationalQueries.zorder16(
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y")))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      r.getLong(2)).toMap
    assert(got == Map(
      (3L, 5L) -> 39L,
      (0L, 0L) -> 0L,
      (65535L, 0L) -> 0x55555555L,
      (0L, 65535L) -> 0xAAAAAAAAL,
      (1L, 1L) -> 3L), s"got $got")
  }

  test("top paths: sliding triples counted, deterministic rank ties") {
    import spark.implicits._
    val ev = Seq(
      // u1: a b c d → (a,b,c), (b,c,d). u2: a b c → (a,b,c).
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "c"),
      (1L, 4L, 4L, "d"),
      (2L, 1L, 5L, "a"), (2L, 2L, 6L, "b"), (2L, 3L, 7L, "c"),
      // u3: too short for any triple.
      (3L, 1L, 8L, "x"), (3L, 2L, 9L, "y"))
      .toDF("u", "ts", "id", "s")
    val got = RelationalQueries.topPaths(ev, "u", "ts", "id", "s", k = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4)))
    // (a,b,c) count 2 ranks first; (b,c,d) count 1 second.
    assert(got.toSeq == Seq(("a", "b", "c", 2L, 1),
      ("b", "c", "d", 1L, 2)), s"got ${got.toSeq}")
  }

  test("multi-touch attribution: exact linear split, decay weights, window cut") {
    import spark.implicits._
    val day = 86400000000L
    // One purchase at t=10d; clicks at Δ = 0, 1, 2 days before, plus
    // one 8 days back (outside the 7-day window) and one AFTER the
    // purchase — both excluded.
    val purchases = Seq((1L, 10L * day, 100L)).toDF("u", "ptsm", "pid")
    val clicks = Seq(
      (1L, 10L * day, 1L), (1L, 9L * day, 2L), (1L, 8L * day, 3L),
      (1L, 2L * day - 1L, 4L), (1L, 11L * day, 5L))
      .toDF("u", "ctsm", "cid")
    val got = RelationalQueries.multiTouchAttribution(
        purchases, clicks, "u", windowMicros = 7L * day,
        decayUnitMicros = day)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // Linear: 10⁶/3 = 333333 r 1 → the most recent (cid 1) gets the
    // remainder; sum is exactly 10⁶. Decay: weights 10⁶, 5·10⁵,
    // 2.5·10⁵ (sum 1.75·10⁶) → 571428 / 285714 / 142857.
    assert(got == Map(
      1L -> (333334L, 571428L),
      2L -> (333333L, 285714L),
      3L -> (333333L, 142857L)), s"got $got")
    assert(got.values.map(_._1).sum == 1000000L)
  }

  test("trailing active users: window contribution, dedup, clipped tail") {
    import spark.implicits._
    // u1 active days 1 and 2 (window 3): contributes to days 1-3 and
    // 2-4; u2 active day 4 only. Max observed day 4 clips days 5-6.
    // Day 1: {u1}; 2: {u1}; 3: {u1}; 4: {u1(from day 2), u2}.
    val days = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 4L))
      .toDF("u", "d")
    val got = RelationalQueries.trailingActiveUsers(days, "u", "d",
        windowDays = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L),
      s"got $got")
  }

  test("zorder tiles: every 4096-key bucket bounds a 64x32 (x, y) tile") {
    // The clustering claim q159/q163 rest on: a zbucket (zkey div 2¹²)
    // fixes all interleaved bits above position 11 — x keeps its low 6
    // bits free (even positions 0,2,4,6,8,10), y its low 5 (odd
    // 1,3,5,7,9) — so every bucket's extent is AT MOST a 64×32 tile,
    // never a full-range stripe.
    val df = RelationalQueries.queries("q163_zorder_tiles")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (xmin, xmax) = (r.getAs[Long]("x_min"), r.getAs[Long]("x_max"))
      val (ymin, ymax) = (r.getAs[Long]("y_min"), r.getAs[Long]("y_max"))
      assert(xmax - xmin < 64, s"bucket ${r.getLong(0)} x spans $xmin..$xmax")
      assert(ymax - ymin < 32, s"bucket ${r.getLong(0)} y spans $ymin..$ymax")
    }
  }

  test("bfs hops: cycle terminates, unreachable nodes absent") {
    import spark.implicits._
    // a→b→c→a cycle with a spur c→d; e→f disconnected.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("e", "f")).toDF("s", "d")
    val got = graft.graphquery.Graph.bfsHops(edges, "s", "d", "a")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L),
      s"got $got")
  }

  test("bfs hops: maxIters caps an adversarial chain") {
    import spark.implicits._
    val chain = (0 until 12).map(i => (s"v$i", s"v${i + 1}"))
      .toDF("s", "d")
    val got = graft.graphquery.Graph.bfsHops(chain, "s", "d", "v0",
        maxIters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 6 && got("v5") == 5L, s"got $got")
  }

  test("salted aggregation: two event_type exchanges, same result as direct") {
    val salted = RelationalQueries.queries("q165_salted_agg")(spark, sf)
    val plan = salted.queryExecution.executedPlan.toString
    // Phase 1 partitions on (event_type, salt), phase 2 on event_type
    // alone — both exchanges must be present (the salt spread is the
    // point; AQE may later coalesce partitions but not remove the
    // exchange).
    assert("hashpartitioning\\(event_type#\\d+, _salt".r
      .findFirstIn(plan).isDefined, s"no salted exchange:\n$plan")
    assert("hashpartitioning\\(event_type#\\d+, \\d".r
      .findFirstIn(plan).isDefined, s"no final exchange:\n$plan")
    import spark.implicits._
    val direct = graft.Tables.t(spark, sf, "events")
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"),
        graft.Exact.dsum($"value").as("total_value"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val got = salted.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    assert(got == direct, s"salted $got != direct $direct")
  }

  test("zscore anomalies: integer inequality matches the 2-sigma contract") {
    import spark.implicits._
    // 9 days of 10 plus one 200: mean 29, sigma 57 — only the 200 is
    // past 2 sigma (z = 3). A single outlier in n<=8 points can NEVER
    // exceed z=2 ((n-1)/sqrt(n) bound) — n=10 clears it.
    val daily = ((1 to 9).map(d => (d.toLong, 10L)) :+ (10L, 200L))
      .toDF("day", "n")
    val got = RelationalQueries.zscoreAnomalies(daily, "n")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == ((1 to 9).map(_.toLong -> 0L) :+ (10L -> 1L)).toMap,
      s"got $got")
  }

  test("theil-sen: outlier day barely moves the median slope; negative " +
    "slopes use FLOOR division") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Steady +2/day with one huge spike at day 4: the median pairwise
    // slope stays 2e6 ppm (least squares would be dragged far off).
    val daily = Seq((1L, 10L), (2L, 12L), (3L, 14L), (4L, 100L),
      (5L, 18L)).toDF("d", "x")
    val got = RelationalQueries.theilSen(daily, "d", "x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(got == (10L, 2000000L), s"got $got")
    // Negative fractional slope divides with TRUNCATION toward zero —
    // the native integer-division semantic of BOTH Spark (`div`) and
    // DuckDB (integer `//`): trunc(-7e6/3) = -2333333.
    val neg = Seq((0L, 10L), (3L, 3L)).toDF("d", "x")
    val s2 = RelationalQueries.theilSen(neg, "d", "x")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(s2 == (1L, -2333333L), s"got $s2")
  }

  test("ols + mann-kendall: spike drags OLS but not the MK sign sum") {
    import spark.implicits._
    // Same series as the theil-sen case: steady +2/day, spike at day 4.
    val daily = Seq((1L, 10L), (2L, 12L), (3L, 14L), (4L, 100L),
      (5L, 18L)).toDF("d", "x")
    val ols = RelationalQueries.olsTrend(daily, "d", "x")
      .collect().head
    // By-hand moments: n=5 sx=15 sy=154 sxy=566 sxx=55 →
    // num = 5·566 − 15·154 = 520; den = 5·55 − 225 = 50 → 10.4/day:
    // the spike quintupled the OLS slope (theil-sen said 2.0).
    assert((ols.getLong(0), ols.getLong(1), ols.getLong(2),
      ols.getLong(3)) == ((5L, 520L, 50L, 10400000L)), s"got $ols")
    // MK: 9 rises, 1 fall ((4,100)→(5,18)) → S = 8, no ties.
    val mk = RelationalQueries.mannKendall(daily, "d", "x")
      .collect().head
    assert((mk.getLong(0), mk.getLong(1), mk.getLong(2))
      == ((8L, 10L, 0L)), s"got $mk")
    // Degenerate one-day series: null OLS slope, not a crash.
    val one = RelationalQueries.olsTrend(
      Seq((7L, 3L)).toDF("d", "x"), "d", "x").collect().head
    assert(one.isNullAt(3))
  }

  test("pit join: facts pick the version valid at their timestamp") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // User u: k=1 from ts 10, k=2 from ts 20 (current).
    val dim = RelationalQueries.scd2(
      Seq(("u", 10L, 1L, 1L), ("u", 20L, 2L, 2L))
        .toDF("user_id", "tsm", "event_id", "k"),
      "user_id", "tsm", "event_id", "k")
    val facts = Seq(
      ("u", 5L, 100L),  // before first version -> null
      ("u", 10L, 101L), // inclusive lower bound -> k=1
      ("u", 19L, 102L), // inside v1 -> k=1
      ("u", 20L, 103L), // boundary: v1 is [10,20), v2 from 20 -> k=2
      ("u", 99L, 104L), // open-ended current -> k=2
      ("v", 50L, 105L)  // unknown key -> null
    ).toDF("user_id", "tsm", "event_id")
    val got = RelationalQueries.pitJoin(facts, dim, "user_id", "tsm")
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got == Map(100L -> -1L, 101L -> 1L, 102L -> 1L,
      103L -> 2L, 104L -> 2L, 105L -> -1L), s"got $got")
  }

  test("sssp rounds: cheaper long path beats the direct edge; round " +
    "bound caps path length") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A→B direct costs 10, A→C→D→B costs 1+1+1 = 3; E hangs 4 hops off B.
    val edges = Seq(
      ("A", "B", 10L), ("A", "C", 1L), ("C", "D", 1L), ("D", "B", 1L),
      ("B", "X1", 1L), ("X1", "X2", 1L), ("X2", "E", 1L)
    ).toDF("src", "dst", "w")
    def run(r: Int) = graft.graphquery.Graph
      .ssspRounds(edges, "src", "dst", "w", source = "A", rounds = r)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val full = run(8)
    assert(full == Map("A" -> 0L, "C" -> 1L, "D" -> 2L, "B" -> 3L,
      "X1" -> 4L, "X2" -> 5L, "E" -> 6L), s"got $full")
    // With only 2 rounds the cheap 3-edge path to B is not yet visible:
    // dist(B) is the direct edge's 10, and E is unreached.
    val two = run(2)
    assert(two("B") == 10L, s"got ${two("B")}")
    assert(!two.contains("E"))
    // Parallel edges collapse to their min weight.
    val par = Seq(("A", "B", 7L), ("A", "B", 2L)).toDF("src", "dst", "w")
    val p = graft.graphquery.Graph
      .ssspRounds(par, "src", "dst", "w", "A", rounds = 1)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(p == Map("A" -> 0L, "B" -> 2L), s"got $p")
  }

  test("gap-fill + forward fill completes the day grid and carries values") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Key "a": days 10, 13 (gap at 11, 12). Key "b": single day 20.
    val df = Seq(
      ("a", 10L, 100L), ("a", 10L, 50L), ("a", 13L, 70L),
      ("b", 20L, 5L)
    ).toDF("k", "day_n", "_cents")
    val got = RelationalQueries.gapFillForwardFill(df, "k", "day_n")
      .select(col("k"), col("day_n"), col("n_events"), col("last_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == Set(
      ("a", 10L, 2L, 150L), // observed day: its own sum
      ("a", 11L, 0L, 150L), // gap: zero count, carried sum
      ("a", 12L, 0L, 150L),
      ("a", 13L, 1L, 70L),  // next observation replaces the carry
      ("b", 20L, 1L, 5L)), s"got $got")
  }

  test("histogram index: write then merge batches equals one-shot bins") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    // Bin counts add exactly, so incremental ingest must reproduce the
    // one-shot histogram bit for bit (the q191 contract).
    def bins(rows: Seq[Long]) = rows.toDF("v")
      .select(expr("v div 100").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val b1 = Seq(101L, 150L, 250L, 310L)
    val b2 = Seq(120L, 255L, 255L, 990L)
    val b3 = Seq(105L, 990L)
    val dir = java.nio.file.Files.createTempDirectory("histidx").toString
    try {
      bins(b1).write.mode("overwrite").parquet(dir)
      graft.sources.ShardStore.merge(bins(b2), dir,
        RelationalQueries.histMerge)
      graft.sources.ShardStore.merge(bins(b3), dir,
        RelationalQueries.histMerge)
      def asMap(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(asMap(spark.read.parquet(dir)) == asMap(bins(b1 ++ b2 ++ b3)))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("zscore anomalies: past the BIGINT bound the job fails, never wraps") {
    import spark.implicits._
    // Values sized so the STATS aggregate stays exact (ΣX² ≈ 6.8e18 <
    // 2⁶³) but n·max|x| = 4.5e9 exceeds ⌊√(2⁶³−1)⌋/2 — the per-row
    // squared inequality is where precision dies (wrapping flags
    // off-ANSI, an opaque mid-job ARITHMETIC_OVERFLOW under ANSI); the
    // guard must fail deterministically at the bound with its own
    // message either way.
    val big = Seq((1L, 1500000000L), (2L, 1500000000L), (3L, 1500000001L))
      .toDF("day", "n")
    val e = intercept[Exception] {
      RelationalQueries.zscoreAnomalies(big, "n").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exact-BIGINT bound")), s"got $e")
  }

  test("globalRank: two-phase bucket enumeration equals flat row_number") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, row_number}
    // Heavy value ties (v has 83 distinct values over 500 rows) so the
    // bucket boundaries and within-bucket tie-breaks both get exercised.
    val df = (1 to 500).map(i => (i.toLong, (i * 37 % 83).toLong))
      .toDF("id", "v")
    val got = RelationalQueries.globalRank(df, expr("-(v div 10L)"),
        Seq(col("v").desc, col("id").asc), "grank")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("grank"))
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").desc, col("id").asc)
    val exp = df.withColumn("rn", row_number().over(w).cast("long"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rn")).toMap
    assert(got == exp)
  }

  test("cusum: window closed form equals the sequential recursion") {
    import spark.implicits._
    // A drift regime change at t=6: flat 10s then 30s. Recompute
    // c_t = max(0, c_{t-1} + x - mu - mu/20) sequentially and compare.
    val xs = Seq(10L, 11L, 9L, 10L, 10L, 30L, 32L, 31L, 29L, 30L)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("day", "n")
    val got = RelationalQueries.cusumAlarms(df, "day", "n")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    val n = xs.size; val s = xs.sum
    val mu = s / n; val slack = mu / 20
    var c = 0L
    val exp = xs.zipWithIndex.map { case (x, i) =>
      c = math.max(0L, c + x - mu - slack)
      i.toLong -> (c, if (c > mu) 1L else 0L)
    }.toMap
    assert(got == exp, s"got $got expected $exp")
  }

  test("salted top-k: two-phase equals the plain per-type window") {
    val salted = RelationalQueries.queries("q178_salted_topk")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    val ev = graft.Tables.t(spark, sf, "events")
      .select($"event_type", $"event_id",
        (graft.Exact.dec($"value") * 100).cast("long").as("value_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
      .orderBy($"value_cents".desc, $"event_id".asc)
    val plain = ev.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select($"event_type", $"rank", $"event_id", $"value_cents")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(salted == plain)
  }

  test("table checksum: signatures are order- and partitioning-independent") {
    import org.apache.spark.sql.functions.col
    def sigs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val base = sigs(RelationalQueries.queries("q179_table_checksum")(spark, sf))
    assert(base.nonEmpty)
    // Same rows, adversarial layout: reversed global order, 13 partitions.
    val shuffled = graft.Tables.t(spark, sf, "orders")
      .orderBy(col("o_orderkey").desc).repartition(13)
    val dir2 = java.nio.file.Files.createTempDirectory("ck").toString
    shuffled.write.mode("overwrite").parquet(s"$dir2/orders.parquet")
    val relaid = sigs(RelationalQueries.queries("q179_table_checksum")(
      spark, dir2))
    assert(relaid == base)
  }

  test("ks drift: cross-multiplied statistic equals brute-force KS") {
    import spark.implicits._
    // A: mass at bins 1,2; B: mass at bins 2,3 — KS = |CDF gap| peaks
    // at bin 1 or 2. Brute-force over a grid of random-ish counts.
    val cases = Seq(
      Seq((1L, 3L, 0L), (2L, 1L, 2L), (3L, 0L, 2L)),
      Seq((1L, 5L, 5L), (2L, 5L, 5L)),                 // identical → 0
      Seq((1L, 2L, 0L), (5L, 0L, 7L)))
    for (rows <- cases) {
      val df = rows.toDF("bin", "_a", "_b")
      val got = RelationalQueries.ksDrift(df, "n_a", "n_b")
        .collect().head
      val ta = rows.map(_._2).sum; val tb = rows.map(_._3).sum
      var ca = 0L; var cb = 0L
      val ds = rows.sortBy(_._1).map { case (bin, a, b) =>
        ca += a; cb += b; (bin, math.abs(ca * tb - cb * ta))
      }
      val ks = ds.map(_._2).max
      val argmax = ds.filter(_._2 == ks).map(_._1).min
      assert(got.getAs[Long]("ks_scaled") == ks, s"case $rows")
      assert(got.getAs[Long]("argmax_bin") == argmax, s"case $rows")
      assert(got.getAs[Long]("ks_ppm") ==
        ks * 1000000L / (ta * tb), s"case $rows")
    }
  }

  test("id completeness: gaps and dups are counted from one aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, countDistinct, expr, lit, max, min}
    // ids 0,1,3,3,7 in one 4096-bucket: span 8, distinct 4 → 4 missing,
    // 1 dup.
    val df = Seq(0L, 1L, 3L, 3L, 7L).toDF("id")
      .select(col("id"), expr("id div 4096").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("id")).as("n_distinct"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      .withColumn("n_missing", expr("id_max - id_min + 1L - n_distinct"))
      .withColumn("n_dup", expr("n_rows - n_distinct"))
    val r = df.collect().head
    assert((r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct"),
      r.getAs[Long]("n_missing"), r.getAs[Long]("n_dup")) == (5L, 4L, 4L, 1L))
  }

  test("asof backward/forward: null-ts right rows match nothing") {
    import spark.implicits._
    val clicks = Seq((1L, 100L, 10L)).toDF("cid", "user_id", "tsm")
      .select($"cid", $"user_id", $"tsm")
    val purchases = Seq((100L, Option.empty[Long], 77L),
        (100L, Some(99L), 55L))
      .toDF("user_id", "tsm", "k")
      .select($"user_id", $"tsm".cast("long").as("tsm"), $"k")
    // Backward at ts=10: the only at-or-before candidate would be the
    // null-ts row (nulls sort first) — it must NOT match.
    val b = RelationalQueries.asofJoinBackward(clicks, purchases,
      "user_id", "tsm", "k", "got").collect().head
    assert(b.isNullAt(b.fieldIndex("got")), s"backward matched $b")
    // Forward at ts=10: the real row at 99 matches; null-ts is ignored.
    val f = RelationalQueries.asofJoinForward(clicks, purchases,
      "user_id", "tsm", "k", "got").collect().head
    assert(f.getAs[Long]("got") == 55L, s"forward $f")
  }

  test("multi-touch decay: ancient clicks floor at weight 1, credits stay defined") {
    import spark.implicits._
    val day = 86400000000L
    // One purchase, both clicks >= 20 decay units old: naive 1e6 div
    // 2^25 floors to 0 and the normalization would divide by zero.
    val purchases = Seq((7L, 30L * day, 900L)).toDF("user_id", "ptsm", "pid")
    val clicks = Seq((7L, 5L * day, 1L), (7L, 4L * day, 2L))
      .toDF("user_id", "ctsm", "cid")
    val got = RelationalQueries.multiTouchAttribution(purchases, clicks,
        "user_id", windowMicros = 40L * day, decayUnitMicros = day)
      .collect().map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("credit_ppm"), r.getAs[Long]("decay_credit_ppm")))
      .toMap
    // Equal floored weights (1, 1) -> decay credits are an even split.
    assert(got == Map(1L -> (500000L, 500000L), 2L -> (500000L, 500000L)),
      s"got $got")
  }

  test("robust anomalies: spike flagged against a spike-immune median " +
    "baseline, zero-MAD key guarded, spread key stays quiet") {
    import spark.implicits._
    // Small n per key => the sketch is lossless, med/MAD exact.
    val rows = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
        (4L, "a", 10L), (5L, "a", 1000L)) ++
      (1 to 9).map(i => ((i + 10).toLong, "b", i.toLong))
    val got = RelationalQueries.robustAnomalies(
        rows.toDF("id", "k", "v0"), "k", "id", "v0")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("med_v"), r.getAs[Long]("mad_v"),
          r.getAs[Long]("is_anomaly"))).toMap
    // Key a: median 10 (the mean would be 208 — dragged), MAD 0 ->
    // the greatest(1) guard; only the spike flags.
    assert(got(5L) == ((10L, 0L, 1L)), s"spike: ${got(5L)}")
    assert((1L to 4L).forall(got(_) == ((10L, 0L, 0L))), "normals flagged")
    // Key b: med 5, MAD 2, max deviation 4 -> robust z 1.349, quiet.
    assert((11L to 19L).forall(i => got(i)._1 == 5L && got(i)._2 == 2L &&
      got(i)._3 == 0L), s"spread key misfired: $got")
  }

  test("grouped quantile sketch: per-key totals exact, per-key rank " +
    "errors bounded, write+merge equals the per-key bag union") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Two keys with different sizes and distributions — per-key
    // compaction must not bleed mass across keys.
    val rows = (1 to 3000).map(i => (i.toLong, "a", (i.toLong * i) % 7919)) ++
      (1 to 500).map(i => ((i + 10000).toLong, "b", i.toLong * 3))
    val df = rows.toDF("id", "k", "v0")
    val halves = Seq(df.filter($"id" % 2 === 0), df.filter($"id" % 2 =!= 0))
    val keys = Seq("k")
    val sks = halves.map(h =>
      RelationalQueries.quantileSketch(h, keys, "id", "v0"))
    // Determinism: a repartition-scrambled keyed build emits identical
    // rows, as the global build does.
    def kbag(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(kbag(RelationalQueries.quantileSketch(
        halves.head.repartition(7, $"v0"), keys, "id", "v0"))
      == kbag(sks(0)), "keyed sketch depends on partitioning")
    val dir = java.nio.file.Files.createTempDirectory("qskbykey").toString
    try {
      sks(0).write.mode("overwrite").parquet(dir)
      graft.sources.ShardStore.merge(sks(1), dir,
        RelationalQueries.quantileMerge(keys))
      def bag(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(bag(spark.read.parquet(dir).select($"k", $"v", $"w")) ==
        bag(sks.reduce(_ unionByName _).groupBy($"k", $"v")
          .agg(sum($"w").as("w")).select($"k", $"v", $"w")),
        "merged index diverged from the per-key bag union")
      val rep = RelationalQueries.quantileReport(
          spark.read.parquet(dir), keys)
        .collect().map(r => r.getString(0) -> r).toMap
      for ((k, n) <- Seq("a" -> 3000, "b" -> 500)) {
        assert(rep(k).getAs[Long]("n_total") == n.toLong,
          s"key $k weights must sum to its own N")
        val vals = rows.filter(_._2 == k).map(_._3).sorted
        val err = 2 * (16 + (n / 2) / 64)
        for ((p, f) <- Seq(50, 90).zip(Seq("p50_v", "p90_v"))) {
          val v = rep(k).getAs[Long](f)
          val target = (p * n + 99) / 100
          assert(vals.count(_ < v) <= target + err &&
            vals.count(_ <= v) >= target - err,
            s"$k.$f=$v out of rank band")
        }
      }
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("quantile normalize: exact ranks when the sketch is lossless, " +
    "monotone, top value pins to 1e6") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10 rows < capacity, so every bucket keeps step = 1 and the sketch
    // IS the data: rank_ppm must equal floor(#{vi <= v} * 1e6 / n).
    val vals = Seq(5L, 1L, 9L, 3L, 3L, 7L, 2L, 8L, 4L, 6L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v0")
    val sk = RelationalQueries.quantileSketch(df, Nil, "id", "v0")
    val got = RelationalQueries.quantileNormalize(df, Nil, "v0", sk)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_ppm"))
      .toMap
    val exp = vals.zipWithIndex.map { case (v, i) =>
      i.toLong -> vals.count(_ <= v).toLong * 1000000L / vals.size
    }.toMap
    assert(got == exp, s"got $got vs $exp")
    assert(got(2L) == 1000000L, "max value must rank at exactly 1e6")
  }

  test("quantile sketch: rank-error bound holds, merge law holds, " +
    "partitioning-independent, compaction preserves total weight") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val buckets = 16
    val capacity = 64
    // Skewed values (squares) so equal-spaced VALUES would fail where
    // equal-spaced RANKS must not; ids are a permuted dense sequence.
    val n = 5000
    val data = (1 to n).map(i => (i.toLong, (i.toLong * i) % 99991))
      .toDF("id", "v0")
    val halves = Seq(data.filter($"id" % 2 === 0), data.filter($"id" % 2 =!= 0))
    val sk = halves.map(h =>
        RelationalQueries.quantileSketch(h, Nil, "id", "v0", buckets,
          capacity))
      .reduce(_ unionByName _)
    val rep = RelationalQueries.quantileReport(sk, Nil).collect().head
    assert(rep.getAs[Long]("n_total") == n, "weights must sum to N")
    // Two merged batches: error <= 2 * (buckets + N_half/capacity).
    val err = 2 * (buckets + (n / 2) / capacity)
    val values = data.select($"v0").as[Long].collect().sorted
    for ((p, f) <- Seq((50, "p50_v"), (90, "p90_v"), (99, "p99_v"))) {
      val v = rep.getAs[Long](f)
      val target = (p * n + 99) / 100
      val le = values.count(_ <= v)
      val lt = values.count(_ < v)
      assert(lt <= target + err && le >= target - err,
        s"$f=$v: rank [$lt,$le] vs target $target ± $err")
    }
    // Determinism: a repartition-scrambled build emits identical rows.
    def bag(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
      .view.mapValues(_.size).toMap
    assert(bag(RelationalQueries.quantileSketch(
        halves.head.repartition(7, $"v0"), Nil, "id", "v0", buckets,
        capacity))
      == bag(RelationalQueries.quantileSketch(
        halves.head, Nil, "id", "v0", buckets, capacity)))
    // Compaction: <= capacity + 1 rows, total weight preserved, and the
    // compacted report's p50 stays within one extra step of the bound.
    val compact = RelationalQueries.compactQuantileSketch(sk, Nil, 128)
    assert(compact.count() <= 129)
    assert(compact.agg(sum($"w")).as[Long].collect().head == n)
    val rep2 = RelationalQueries.quantileReport(compact, Nil)
      .collect().head
    val v2 = rep2.getAs[Long]("p50_v")
    val t2 = n / 2
    val e2 = err + (n + 127) / 128
    assert(values.count(_ < v2) <= t2 + e2 &&
      values.count(_ <= v2) >= t2 - e2)
    // `Nil` is the keyed form under a constant key: with a key column
    // `k` of one value, sketch bag, report, compaction and
    // normalization all give the global results once `k` is dropped.
    val one = Seq("k")
    val keyed = halves.map(h => RelationalQueries.quantileSketch(
        h.withColumn("k", lit("all")), one, "id", "v0", buckets, capacity))
      .reduce(_ unionByName _)
    assert(bag(keyed.drop("k")) == bag(sk))
    assert(RelationalQueries.quantileReport(keyed, one).drop("k")
      .collect().toSeq == Seq(rep))
    assert(bag(RelationalQueries.compactQuantileSketch(keyed, one, 128)
      .drop("k")) == bag(compact))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"rank_ppm").as[(Long, Long)].collect().toMap
    assert(ranks(RelationalQueries.quantileNormalize(
        data.withColumn("k", lit("all")), one, "v0", keyed))
      == ranks(RelationalQueries.quantileNormalize(data, Nil, "v0", sk)))
  }

  test("grouped quantile normalize: ranks come from the ROW'S key's " +
    "distribution, never a neighbor's") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Key a: values 1..100; key b: values 1000..1099 plus ONE value 50.
    // 50 is mid-pack for a (~50%) but bottom-of-pack for b (<2%).
    val df = ((1 to 100).map(i => ("a", i.toLong, i.toLong)) ++
      (1 to 100).map(i => ("b", 200L + i, 999L + i)) ++
      Seq(("b", 999L, 50L))).toDF("k", "id", "v")
    val sk = RelationalQueries.quantileSketch(df, Seq("k"), "id", "v",
      buckets = 4, capacity = 64)
    val out = RelationalQueries.quantileNormalize(df, Seq("k"), "v", sk)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val rankA50 = out.find(x => x._1 == "a" && x._2 == 50L).get._3
    val rankB50 = out.find(x => x._1 == "b" && x._2 == 999L).get._3
    assert(rankA50 > 400000L && rankA50 < 600000L,
      s"a's 50 should be mid-pack, got $rankA50")
    assert(rankB50 < 50000L, s"b's 50 should be bottom, got $rankB50")
    // Totality: every row gets a rank in [0, 1e6].
    assert(out.length == df.count() &&
      out.forall(x => x._3 >= 0L && x._3 <= 1000000L))
  }

  test("winsorize: values clip into their OWN key's percentile band") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Key a: 1..100 with outliers ±10000; key b: 1000..1099.
    val df = ((1 to 100).map(i => ("a", i.toLong, i.toLong)) ++
      Seq(("a", 900L, 10000L), ("a", 901L, -10000L)) ++
      (1 to 100).map(i => ("b", 200L + i, 999L + i))).toDF("k", "id", "v")
    val sk = RelationalQueries.quantileSketch(df, Seq("k"), "id", "v",
      buckets = 4, capacity = 64)
    val out = RelationalQueries.winsorizeByKey(df, "k", "v", sk,
      lowPct = 5, highPct = 95)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("clipped"))
      .toMap
    // a's outliers clip into a's band, not b's.
    val a900 = out(("a", 900L)); val a901 = out(("a", 901L))
    assert(a900 < 110L && a900 > 80L, s"high outlier clipped to $a900")
    assert(a901 >= 1L && a901 < 20L, s"low outlier clipped to $a901")
    // b's values are untouched (inside their own band).
    assert(out(("b", 250L)) == 1049L)
  }

  test("column profile: exact small-cardinality estimates, null and " +
    "lexical stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "x"), (2L, "y"), (3L, null), (4L, "x"), (5L, null))
      .toDF("id", "s")
    val prof = RelationalQueries.columnProfile(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5))).toMap
    // Below k the KMV estimate is EXACT (slot count).
    assert(prof("id") == ((5L, 0L, 5L, "1", "5")))
    assert(prof("s") == ((5L, 2L, 2L, "x", "y")))
  }
}
