package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables.{parquet, t}
import graft.sources.ShardStore
import graft.Exact._

/** Core relational operator surface (SURVEY.md §2.3-2.6): scans with
  * pushdown, broadcast/shuffle joins, semi/anti joins (NOT EXISTS), left
  * outer (OPTIONAL), VALUES inline tables, count-distinct subqueries,
  * string-concat aggregation, windows, distinct, union.
  *
  * Every query here is paired with a DuckDB oracle in [[oracles]]; all
  * double aggregates go through [[graft.Exact]] so results are
  * order-independent and hash-compare cleanly against the oracle.
  */
object RelationalQueries {
  private val one2 = lit(1).cast(DecimalType(18, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: partial (map-side) aggregation into 6
    // groups; at 100 TB this stays one shuffle of a tiny aggregate state.
    "q01_agg_pricing_summary" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= to_timestamp(lit("1999-01-01")))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice") * (one2 - dec($"l_discount")))
            .cast("double").as("sum_disc_price"),
          (sum(dec($"l_discount")).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // Selective filter + narrow projection — both must reach the parquet
    // scan (PushedFilters / ReadSchema), so 100 TB reads only what it needs.
    "q02_filter_project" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_totalprice" > 450000.0 && $"o_orderstatus" === "O")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    // Star join, dims-first: the selective region predicate prunes customer
    // BEFORE the fact table joins, so at 100 TB only ~1/5 of customers (and
    // through them orders) reach the big shuffle, instead of shuffling all
    // of orders×customer and pruning last. nation⋈region_ASIA is broadcast
    // into customer; the reduced customer set then joins orders.
    "q03_join_agg_regional_revenue" -> { (s, dir) =>
      import s.implicits._
      val r = t(s, dir, "region").filter($"r_name" === "ASIA")
      val dims = t(s, dir, "nation")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      val cAsia = t(s, dir, "customer")
        .join(broadcast(dims), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name")
      val o = t(s, dir, "orders")
      o.join(cAsia, o("o_custkey") === cAsia("c_custkey"))
        .groupBy($"n_name")
        .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
    },

    // NOT EXISTS (SURVEY.md P7) as a left-anti join.
    "q04_anti_join_no_orders" -> { (s, dir) =>
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_orderstatus" === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_name")
    },

    // EXISTS as a left-semi join.
    "q05_semi_join_open_orders" -> { (s, dir) =>
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_orderstatus" === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select($"c_custkey", $"c_mktsegment")
    },

    // OPTIONAL (SURVEY.md P8) as a left-outer join. Scale-safe shape:
    // pre-aggregate orders to one row per customer (map-side partial agg),
    // THEN left-join — the join moves |customers| rows, not |orders|.
    // count(o_orderkey) over a raw left join would shuffle every order row.
    "q06_left_outer_order_counts" -> { (s, dir) =>
      import s.implicits._
      val perCust = t(s, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
      t(s, dir, "customer")
        .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
        .select($"c_custkey", coalesce($"cnt", lit(0L)).as("n_orders"))
    },

    // VALUES inline table (SURVEY.md P9) broadcast-joined with a theta term.
    "q07_values_join" -> { (s, dir) =>
      import s.implicits._
      val v = s.createDataFrame(Seq(
        ("Brand#13", 10), ("Brand#20", 25), ("Brand#7", 40)))
        .toDF("brand", "min_size")
      t(s, dir, "part")
        .join(broadcast(v), $"p_brand" === $"brand" && $"p_size" >= $"min_size")
        .select($"p_partkey", $"p_brand", $"p_size", $"min_size")
    },

    // COUNT(DISTINCT) grouped subquery + filter on the aggregate (SURVEY.md A1).
    "q08_count_distinct_having" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(countDistinct($"o_orderpriority").as("n_prio"),
          count(lit(1)).as("n_orders"))
        .filter($"n_prio" >= 5)
    },

    // String-concat aggregation (SURVEY.md A2): deterministic via sort.
    "q09_concat_agg_nations" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "region")
        .join(t(s, dir, "nation"), $"r_regionkey" === $"n_regionkey")
        .groupBy($"r_name")
        .agg(concat_ws(" ", array_sort(collect_list($"n_name"))).as("nations"))
    },

    // Per-key row_number window (SURVEY.md W1) with a deterministic tiebreak.
    "q10_window_top_order" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    },

    // DISTINCT projection (SURVEY.md P11).
    "q11_distinct_segments" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer").select($"c_mktsegment".as("segment")).distinct()
    },

    // UNION with set semantics (SURVEY.md U1-U2).
    "q12_union_big_accounts" -> { (s, dir) =>
      import s.implicits._
      val a = t(s, dir, "customer").filter($"c_acctbal" > 9900.0)
        .select($"c_custkey".as("custkey"))
      val b = t(s, dir, "orders").filter($"o_totalprice" > 490000.0)
        .select($"o_custkey".as("custkey"))
      a.union(b).distinct()
    },

    // Time-bucketed aggregation over the events table.
    "q13_events_hourly" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"), dsum($"value", 4).as("sum_value"))
    },

    // Batch sessionization: gap-based sessions per user (new session when
    // >30 min since the previous event) via lag + running sum — the batch
    // twin of EventsStream.sessionize's keyed state. Gaps compare in
    // epoch MICROS on both engines (the ns→µs floor is shared), and ties
    // on ts are safe: a tie's gap is 0 regardless of peer order, and both
    // engines' default RANGE frame gives tie rows the same running sum.
    "q48_sessionize_batch" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      t(s, dir, "events")
        .withColumn("_prev", lag(unix_micros($"ts"), 1).over(w))
        .withColumn("_new", ($"_prev".isNull ||
          unix_micros($"ts") - $"_prev" > 1800L * 1000000L).cast("long"))
        .withColumn("session_no", sum($"_new").over(w))
        .groupBy($"user_id", $"session_no")
        .agg(min($"ts").as("session_start"), count(lit(1)).as("n_events"),
          dsum($"value", 4).as("sum_value"))
    },

    // AS-OF join (backward): for each click, the payload of the user's
    // latest purchase at-or-before it — the attribution join Spark has
    // no native operator for. One union + one keyed window; see
    // [[asofJoinBackward]] for why this beats join-then-filter.
    "q106_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      asofJoinBackward(clicks, purchases, "user_id", "tsm", "k",
        "last_purchase_k")
    },

    // The streaming attribution operator's batch form under the q106
    // oracle (the q48-for-sessionize pattern: the stream twin's exact
    // semantics DuckDB-gated). Same AS-OF backward contract, different
    // machinery — sorted-timeline array probe instead of union+window.
    // Unhinted: AQE sizes the packed-timeline join at runtime.
    "q107_asof_timeline" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      graft.streaming.EventsStream.attributeStream(
        clicks, purchases, "user_id", "tsm", "k", "last_purchase_k")
    },

    // q107's scale-safe fallback, gated under the identical ASOF oracle:
    // broadcastTimeline = Some(false) forces the keyed SHUFFLE join —
    // the shape a corpus-scale timeline (all purchases, growing with the
    // data) must take when it exceeds broadcast budgets. PlanAuditSpec
    // asserts this plan is a sort-merge join, not a broadcast.
    "q108_asof_timeline_shuffle" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      graft.streaming.EventsStream.attributeStream(
        clicks, purchases, "user_id", "tsm", "k", "last_purchase_k",
        broadcastTimeline = Some(false))
    },

    // q107's HOT-KEY-SAFE form, gated under the identical ASOF oracle:
    // bucketWidth chunks each key's packed timeline into one sorted
    // array per (key, 1-day bucket), so a power-law key holding a
    // constant corpus fraction bounds its max row by bucket width ×
    // peak rate instead of by corpus size (SCALE.md zipf probe). Width
    // rule: pick w near span × keys / entries so the dense directory
    // stays entry-count-sized — a too-fine w multiplies directory rows
    // by span/w per COLD key (the hot key is bounded either way).
    "q188_asof_timeline_chunked" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      graft.streaming.EventsStream.attributeStream(
        clicks, purchases, "user_id", "tsm", "k", "last_purchase_k",
        bucketWidth = Some(86400L * 1000000L))
    },

    // Time-series smoothing: hourly counts per type with a 3-bucket
    // trailing moving sum (ROWS frame over the hourly rollup) — the
    // dashboard-smoothing window, integer-only.
    "q104_moving_window" -> { (s, dir) =>
      import s.implicits._
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy($"event_type").orderBy($"hour")
        .rowsBetween(-2, Window.currentRow)
      hourly.withColumn("moving_3h", sum($"n_events").over(w))
    },

    // Semi-structured extraction: JSON property pulled from the events
    // props column (codegen'd get_json_object — no UDF) and aggregated
    // per event type. The "parse the payload" half of event analytics.
    "q103_json_props" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .withColumn("_k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"_k").as("sum_k"),
          min($"_k").as("min_k"), max($"_k").as("max_k"),
          countDistinct($"_k").as("distinct_k"))
    },

    // Multi-dimensional aggregate: ROLLUP over (returnflag, linestatus) —
    // subtotal rows + grand total in one pass (Catalyst expands the
    // grouping sets; one shuffle). NULL group markers replaced by
    // sentinel strings so the oracle compare is null-unambiguous.
    "q102_rollup" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n_rows"), dsum($"l_quantity").as("sum_qty"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"n_rows", $"sum_qty")
    },

    // Session-length spectrum: q48's sessions rolled into power-of-two
    // event-count bands (the q92 integer floor-log2 device) — the
    // engagement-shape report a sessionized event stream feeds.
    "q99_session_spectrum" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      t(s, dir, "events")
        .withColumn("_prev", lag(unix_micros($"ts"), 1).over(w))
        .withColumn("_new", ($"_prev".isNull ||
          unix_micros($"ts") - $"_prev" > 1800L * 1000000L).cast("long"))
        .withColumn("session_no", sum($"_new").over(w))
        .groupBy($"user_id", $"session_no")
        .agg(count(lit(1)).as("_n"))
        .withColumn("bucket", (length(bin($"_n")) - 1).cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_sessions"), sum($"_n").as("n_events"))
    },

    // Per-node triangle participation in the undirected trade graph —
    // a (customer, supplier, nation) triangle = a supplier serving a
    // customer of its own nation. Degree orientation bounds the wedge
    // join at m^1.5 — see [[graft.graphquery.Graph.triangleCounts]].
    // The gate runs the every-10th-customer subgraph (wedge volume is
    // linear in customers, and the full-graph cost belongs in the
    // ScaleProbe run, not the per-round bench); the operator itself is
    // unfiltered.
    "q127_triangles" -> { (s, dir) =>
      import s.implicits._
      graft.graphquery.Graph.triangleCounts(
        tradeGraphEdges(s, dir, customerFilter = Some(10L)), "src", "dst")
    },

    // User-journey flagship: five per-user analytics — event count,
    // gap-sessions, funnel stage, non-overlapping conversion cycles,
    // EWMA spend score, purchase-attributed clicks — from ONE keyed
    // shuffle and one sorted array: every metric is a row-local fold or
    // array function over the same collected events. The q60-style
    // composition for the events family; at 100 TB this is one pass
    // over the corpus where the naive dashboard runs five.
    "q131_user_journey" -> { (s, dir) =>
      import s.implicits._
      userJourney(t(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_type",
          (dec($"value") * 100).cast("long").as("cents")))
    },

    // Repeated-conversion counting: how many NON-OVERLAPPING
    // view→click→purchase sequences (24 h per-step window) each user
    // completes, histogrammed — q123's fold with a reset-on-complete
    // state, the sequenceCount companion to the funnel's windowFunnel.
    // Greedy first-touch matching: a completed match releases the
    // cursor, a later view restarts. Same one-shuffle row-local shape
    // and the same tie immunity (strict `>` advance).
    "q130_conversion_cycles" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_type")
        .groupBy($"user_id")
        .agg(array_sort(collect_list(struct($"tsm", $"event_type")))
          .as("_evs"))
        .withColumn("conversions", expr(
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
        .groupBy($"conversions")
        .agg(count(lit(1)).as("n_users"))
    },

    // Per-user EWMA activity score, integer-exact: values as exact
    // cents (the DECIMAL(18,2) device ×100), events folded in
    // event-time order with s ← (0.9·s + 0.1·x) in ppm BIGINT floor
    // arithmetic — the recency-weighted engagement feature, replayable
    // bit-for-bit because no float ever enters the fold. ONE per-user
    // shuffle + a row-local fold (the q123 machinery); ties at equal
    // (tsm, cents) are literally equal elements, so order can't matter.
    "q129_ewma_score" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          (dec($"value") * 100).cast("long").as("cents"))
        .groupBy($"user_id")
        .agg(array_sort(collect_list(struct($"tsm", $"cents"))).as("_evs"))
        .select($"user_id", size($"_evs").cast("long").as("n_events"),
          expr("""aggregate(
            |  slice(transform(_evs, e -> e.cents), 2, size(_evs) - 1),
            |  _evs[0].cents,
            |  (a, x) -> (900000L * a + 100000L * x) div 1000000L)"""
            .stripMargin).as("ewma_cents"))
    },

    // Deterministic synchronous label propagation over the same
    // subgraph: 3 rounds of adopt-the-most-frequent-neighbor-label with
    // a smallest-label tie-break — communities pick out each nation's
    // trade neighborhood. See [[graft.graphquery.Graph.labelPropagation]].
    "q128_label_propagation" -> { (s, dir) =>
      graft.graphquery.Graph.labelPropagation(
        tradeGraphEdges(s, dir, customerFilter = Some(10L)), "src", "dst",
        iters = 3)
    },

    // AS-OF join, forward: each click's NEXT purchase at-or-after it —
    // time-to-conversion's other half ([[asofJoinForward]]); same union
    // + one keyed window shape as q106, mirrored frame.
    "q125_asof_forward" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      asofJoinForward(clicks, purchases, "user_id", "tsm", "k",
        "next_purchase_k")
    },

    // Keyless interval range join via time-bucketing: purchases landing
    // inside "hot windows" ([hour+5min, hour+50min) of any hour where a
    // non-purchase event type logged >= 7 events). No shared key exists
    // between the sides, so the naive inequality join is a
    // BroadcastNestedLoopJoin; [[rangeJoinByBucket]] makes it an equi
    // join on 15-minute buckets. PlanAuditSpec holds q121 to the global
    // no-BNLJ rule — the whole point of the operator.
    "q121_range_join_hot_windows" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val windows = ev.filter($"event_type" =!= "purchase")
        .groupBy($"event_type".as("wtype"),
          date_trunc("hour", $"ts").as("_hour"))
        .agg(count(lit(1)).as("n_window_events"))
        .filter($"n_window_events" >= 7)
        .select($"wtype", $"n_window_events",
          (unix_micros($"_hour") + 300L * 1000000L).as("ws"),
          (unix_micros($"_hour") + 3000L * 1000000L).as("we"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select(unix_micros($"ts").as("ptsm"), $"value")
      rangeJoinByBucket(purchases, "ptsm", windows, "ws", "we",
          bucketMicros = 900L * 1000000L)
        .groupBy($"wtype", timestamp_micros($"ws").as("window_start"))
        .agg(first($"n_window_events").as("n_window_events"),
          count($"ptsm").as("n_purchases"),
          coalesce(dsum($"value", 4), lit(0.0)).as("purchase_value"))
    },

    // Integer-exact PageRank over the customer→supplier→nation→customer
    // trade graph (prefixed node ids keep the three key spaces
    // disjoint). 5 Pregel-style iterations, ranks in ppb BIGINTs so the
    // reduce order can't perturb a single bit — see
    // [[graft.graphquery.Graph.pageRank]] for the per-iteration shuffle
    // shape and the overflow bound.
    "q122_pagerank" -> { (s, dir) =>
      graft.graphquery.Graph.pageRank(
        tradeGraphEdges(s, dir), "src", "dst", iters = 5, dampPct = 85)
    },

    // PIVOT: per-day event matrix, one column per event type — the
    // wide-format report shape (q102's rollup is the other axis). The
    // pivot VALUES are declared, not discovered, so the schema is
    // static and the plan is one groupBy with conditional aggregates —
    // at 100 TB a discovered pivot would need a driver-side distinct
    // first; declaring the columns keeps it one pass.
    "q135_pivot_daily" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_trunc("day", $"ts").as("day"))
        .pivot("event_type",
          Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // Spark's pivot fills absent (day, type) cells with NULL where
        // the oracle's FILTER-count gives 0 — coalesce so a day missing
        // one type can't diverge the gate.
        .select($"day", coalesce($"view", lit(0L)).as("n_view"),
          coalesce($"click", lit(0L)).as("n_click"),
          coalesce($"purchase", lit(0L)).as("n_purchase"),
          coalesce($"signup", lit(0L)).as("n_signup"),
          coalesce($"error", lit(0L)).as("n_error"))
    },

    // Hopping (sliding) windows: hourly counts every 15 minutes — each
    // event lands in 4 overlapping windows (q13 is the tumbling case).
    // Spark's window() generates the 4 rows per event before the
    // aggregation; still one shuffle, 4× the aggregate input.
    "q148_hopping_windows" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy(window($"ts", "1 hour", "15 minutes").as("w"),
          $"event_type")
        .agg(count(lit(1)).as("n_events"))
        .select($"w.start".as("window_start"), $"event_type", $"n_events")
    },

    // Top orders per customer with RANK (ties share a rank and ALL
    // tied rows survive the cut — q10's row_number picks one winner;
    // this is the other standard semantics).
    "q149_rank_ties" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderpriority".asc)
      t(s, dir, "orders")
        .withColumn("rnk", rank().over(w))
        .filter($"rnk" === 1)
        .select($"o_custkey", $"o_orderkey", $"o_orderpriority", $"rnk")
    },

    // Set operations: customers active in BOTH 'O' and 'F' order
    // status (INTERSECT) minus those with any 'P' order (EXCEPT) —
    // both compile to aggregate/anti-join shapes, no materialized sets.
    "q150_intersect_except" -> { (s, dir) =>
      import s.implicits._
      def custs(st: String) = t(s, dir, "orders")
        .filter($"o_orderstatus" === st).select($"o_custkey")
      custs("O").intersect(custs("F")).except(custs("P"))
    },

    // CUBE with grouping_id: all four aggregation levels of
    // (returnflag × linestatus) in one pass, each row tagged with which
    // dimensions are aggregated away — q102's rollup is the prefix
    // lattice, this is the full one. Spark expands to a 4-way grouping
    // internally; still one shuffle.
    "q145_cube_grouping" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n_rows"), dsum($"l_quantity").as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"gid", $"n_rows", $"sum_qty")
    },

    // Time-RANGE window frame: per user, each event's trailing-7-day
    // spend (RANGE over epoch-micros, not ROWS — q104's moving window
    // counts neighbors; this one bounds by TIME, the frame a feature
    // store actually wants). One keyed sort, frame scan is linear.
    "q146_rolling_7d" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"),
          $"value")
        .withColumn("spend_7d",
          sum(dec($"value", 4)).over(
            Window.partitionBy($"user_id").orderBy($"tsm")
              .rangeBetween(-7L * 86400000000L, 0L))
            .cast("double"))
        .drop("value")
    },

    // AS-OF with staleness tolerance: q106's attribution, but a
    // purchase older than 24 h no longer claims the click (pandas
    // merge_asof `tolerance`).
    "q143_asof_tolerance" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      asofJoinBackwardTolerance(clicks, purchases, "user_id", "tsm", "k",
        "recent_purchase_k", toleranceMicros = 86400000000L)
    },

    // AS-OF nearest: the closer of the last-before and first-after
    // purchase, ties to backward (pandas merge_asof
    // `direction='nearest'`) — completes the as-of family's third
    // direction.
    "q144_asof_nearest" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("tsm"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      asofJoinNearest(clicks, purchases, "user_id", "tsm", "k",
        "nearest_purchase_k")
    },

    // Native session_window sessionization — the built-in operator q48
    // hand-rolls with lag+sum, gated under its own oracle. Semantics
    // differ at the exact boundary: session_window starts a NEW session
    // when the gap is >= the duration (q48's window form uses strictly
    // >), so the oracle mirrors >= — on microsecond data the two agree
    // everywhere except a measure-zero tie, but the gate must encode
    // the operator's contract, not almost-its-contract.
    "q141_session_window" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), dsum($"value", 4).as("sum_value"))
        .select($"user_id", $"w.start".as("session_start"),
          $"n_events", $"sum_value")
    },

    // Exact percentiles of session length (p50/p90/p99 of events per
    // q48 session): rank the session table (|sessions| rows — already
    // aggregated far below corpus scale) and SELECT the ceil(p·n)-th
    // element — the deterministic exact-percentile device, no
    // interpolation, no float.
    "q142_session_percentiles" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val sess = t(s, dir, "events")
        .withColumn("_prev", lag(unix_micros($"ts"), 1).over(w))
        .withColumn("_new", ($"_prev".isNull ||
          unix_micros($"ts") - $"_prev" > 1800L * 1000000L).cast("long"))
        .withColumn("session_no", sum($"_new").over(w))
        .groupBy($"user_id", $"session_no")
        .agg(count(lit(1)).as("n"))
      val ranked = sess.select($"n")
        .withColumn("_r", row_number().over(
          Window.partitionBy().orderBy($"n".asc)))
      val total = sess.agg(count(lit(1)).as("_total"))
      ranked.crossJoin(broadcast(total))
        .withColumn("p", expr("""CASE
          |  WHEN _r = CAST(ceil(0.50 * _total) AS BIGINT) THEN 'p50'
          |  WHEN _r = CAST(ceil(0.90 * _total) AS BIGINT) THEN 'p90'
          |  WHEN _r = CAST(ceil(0.99 * _total) AS BIGINT) THEN 'p99'
          |  END""".stripMargin))
        .filter($"p".isNotNull)
        .select($"p", $"n".as("session_events"))
    },

    // Equi-width histogram over order values: integer bin ids from
    // exact cents (the DECIMAL device), $50k-wide bins — one map-side-
    // combined aggregation, ~12 result rows at any scale.
    "q140_price_histogram" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT) div 5000000").as("bin"),
          $"o_totalprice")
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("sum_price"))
    },

    // UNPIVOT (melt): the q135 wide matrix back to long form through
    // Dataset.unpivot — the round-trip pins both directions of the
    // reshaping pair. Map-only over the already-aggregated matrix.
    "q136_unpivot_daily" -> { (s, dir) =>
      import s.implicits._
      queries("q135_pivot_daily")(s, dir)
        .unpivot(Array($"day"),
          Array($"n_view", $"n_click", $"n_purchase", $"n_signup",
            $"n_error"),
          "event_type", "n_events")
        .filter($"n_events" > 0)
    },

    // Cumulative-adoption curve: per day, users seen for the FIRST time
    // and the running total — the DAU-growth report. One min-aggregate
    // per user (map-side combined), a tiny per-day rollup, and a
    // running-sum window over ~days rows, never over users.
    "q137_cumulative_users" -> { (s, dir) =>
      import s.implicits._
      val firstDay = t(s, dir, "events")
        .groupBy($"user_id")
        .agg(min(date_trunc("day", $"ts")).as("day"))
      val w = Window.partitionBy().orderBy($"day")
      firstDay.groupBy($"day").agg(count(lit(1)).as("new_users"))
        .withColumn("total_users", sum($"new_users").over(w))
    },

    // Retention cohorts: users grouped by first-seen week (their
    // cohort), counted in each later week they return — the triangle
    // every product dashboard draws. The cohort table is |users| rows
    // (one min-aggregate), the activity table one distinct per
    // (user, week); the join is user-keyed, never a cross of weeks.
    "q138_retention_cohorts" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val cohort = ev.groupBy($"user_id")
        .agg(min(date_trunc("week", $"ts")).as("cohort_week"))
      val active = ev
        .select($"user_id", date_trunc("week", $"ts").as("week"))
        .distinct()
      cohort.join(active, "user_id")
        .groupBy($"cohort_week", $"week")
        .agg(count(lit(1)).as("n_users"))
    },

    // ANALYZE-style column profiler: per column, row/null/distinct
    // counts in ONE corpus pass (one aggregate carrying every column's
    // metrics, stacked to long form) — the data-quality table a
    // pipeline reads before trusting a new drop. Integer-only surface
    // so it hash-compares everywhere; at 100 TB the exact
    // count-distincts become approx_count_distinct (documented trade —
    // sketches aren't cross-engine exact).
    "q134_table_profile" -> { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders")
      val cols = o.columns.toSeq
      val aggs = count(lit(1)).as("_rows") +:
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_n_$c"),
          countDistinct(col(c)).as(s"_d_$c")))
      // array-of-structs with UNIFORM field aliases, not stack(): stack
      // rejects rows whose operand structs differ in field names, which
      // per-column references always do.
      o.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("column_name"), col("_rows").as("n_rows"),
          col(s"_n_$c").as("n_nulls"), col(s"_d_$c").as("n_distinct")))
          : _*)).as("_r"))
        .select(col("_r.column_name"), col("_r.n_rows"),
          col("_r.n_nulls"), col("_r.n_distinct"))
    },

    // Personalized PageRank from the 25 nation hubs: rank mass flows
    // outward from the nations through their customers and suppliers —
    // proximity-to-hub scoring, the recommendation variant.
    "q147_personalized_pagerank" -> { (s, dir) =>
      import s.implicits._
      val seeds = t(s, dir, "customer")
        .select(concat(lit("n"), $"c_nationkey").as("node")).distinct()
      graft.graphquery.Graph.personalizedPageRank(
        tradeGraphEdges(s, dir), "src", "dst", seeds, "node",
        iters = 5, dampPct = 85)
    },

    // Weighted PageRank: the same trade graph but customer→supplier
    // edges weighted by ORDER VOLUME (lineitem count per pair) — a
    // supplier's rank now reflects how much it ships, not just to whom.
    // Same ppb BIGINT discipline; contribution = (rank·w) div Σw.
    "q133_pagerank_weighted" -> { (s, dir) =>
      import s.implicits._
      // Volume counts group on the two BIGINT keys (map-side partial
      // aggregation over fixed-width rows — the tradeGraphEdges
      // numeric-first discipline, guide §2.3); the prefixed string ids
      // mint on the distinct survivors only. Identical (src, dst, w)
      // rows by construction.
      val co = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_custkey", $"l_suppkey")
        .agg(count(lit(1)).as("w"))
        .select(concat(lit("c"), $"o_custkey").as("src"),
          concat(lit("s"), $"l_suppkey").as("dst"), $"w")
      val sn = t(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey").as("src"),
          concat(lit("n"), $"s_nationkey").as("dst"), lit(1L).as("w"))
      val nc = t(s, dir, "customer")
        .select(concat(lit("n"), $"c_nationkey").as("src"),
          concat(lit("c"), $"c_custkey").as("dst"), lit(1L).as("w"))
      graft.graphquery.Graph.pageRank(
        co.unionByName(sn).unionByName(nc), "src", "dst",
        iters = 5, dampPct = 85, weightCol = Some("w"))
    },

    // Conversion funnel view→click→purchase per user, 24 h conversion
    // window per step, first-touch anchored (the funnel starts at the
    // user's FIRST view; a step must land strictly after the event that
    // reached the previous stage and within 24 h of it). ONE shuffle
    // (the per-user collect), then a row-local ordered fold over the
    // sorted event array — order-independent under timestamp ties, since
    // a tie can never satisfy the strict inequality whichever side the
    // sort puts first. The array-fold twin of the q48 sessionize window;
    // same power-law caveat as the q107 timeline packing: one user's
    // events land in one row.
    "q123_funnel" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_type")
        .groupBy($"user_id")
        .agg(array_sort(collect_list(struct($"tsm", $"event_type")))
          .as("_evs"))
        .withColumn("stage", expr(funnelFoldExpr()))
        .groupBy($"stage")
        .agg(count(lit(1)).as("n_users"))
    },

    // SCD Type-2 history build: each user's purchase attribute `k` as a
    // slowly-changing dimension — consecutive runs collapse to one row
    // with [valid_from, valid_to) effective range; the open row is
    // flagged current. Two windows over the SAME key+sort (one
    // exchange, the change-filter between them); the dimension-build
    // every warehouse load runs, here from the raw change log.
    "q151_scd2_history" -> { (s, dir) =>
      import s.implicits._
      scd2(t(s, dir, "events")
        .filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_id",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .filter($"k".isNotNull),
        "user_id", "tsm", "event_id", "k")
    },

    // Theil–Sen robust daily trend: the median pairwise slope of the
    // daily event-count series — one corpus rollup, then a |days|²/2
    // pair table (hundreds of rows) and a deterministic median pick.
    "q199_theilsen_trend" -> { (s, dir) =>
      import s.implicits._
      theilSen(t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day_n"))
        .agg(count(lit(1)).as("n")), "day_n", "n")
    },

    // Exact-integer OLS slope of the daily event-count series — the
    // parametric companion to q199's robust median (compare the two to
    // see outlier drag); one aggregation, raw fraction + floor-ppm out.
    "q201_ols_trend" -> { (s, dir) =>
      import s.implicits._
      olsTrend(t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day_n"))
        .agg(count(lit(1)).as("n")), "day_n", "n")
    },

    // Mann–Kendall monotone-trend test statistic over the same series —
    // distribution-free S = Σ sign(Δ) with pair/tie counts.
    "q202_mann_kendall" -> { (s, dir) =>
      import s.implicits._
      mannKendall(t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day_n"))
        .agg(count(lit(1)).as("n")), "day_n", "n")
    },

    // Point-in-time join: every CLICK picks the q151 SCD2 dimension
    // version (the user's purchase-props k) valid at the click's
    // timestamp — the "what did the dimension say when the fact
    // happened" join every warehouse needs; clicks before a user's
    // first version keep null k.
    "q198_pit_join" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val dim = scd2(ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_id",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .filter($"k".isNotNull),
        "user_id", "tsm", "event_id", "k")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_id")
      pitJoin(clicks, dim, "user_id", "tsm")
    },

    // Gaps-and-islands: per-user runs of consecutive active DAYS (the
    // streak report). The day−row_number island id turns each run into
    // one group key; one distinct + one keyed window, the groupBy runs
    // over |user-days|, never events.
    "q152_activity_streaks" -> { (s, dir) =>
      import s.implicits._
      activityStreaks(t(s, dir, "events")
        .select($"user_id",
          expr("unix_micros(ts) div 86400000000L").as("d")),
        "user_id", "d")
    },

    // CDC MERGE apply (MERGE INTO semantics without a table format):
    // target=customer, source=per-customer open-order revenue deltas
    // (plus a synthetic not-in-target slice → the INSERT branch).
    // matched→UPDATE (balance += delta), matched & delta>400k→DELETE,
    // source-only→INSERT, target-only→keep. ONE full-outer hash join on
    // the key — the exact shape Delta/Iceberg MERGE lowers to; balances
    // stay DECIMAL until the final cast so the update arithmetic is
    // order-independent and cross-engine exact.
    "q153_merge_apply" -> { (s, dir) =>
      import s.implicits._
      val src = t(s, dir, "orders").filter($"o_orderstatus" === "O")
        .groupBy($"o_custkey")
        .agg(sum(dec($"o_totalprice")).as("delta"))
      val srcAll = src.select($"o_custkey".as("key"), $"delta")
        .unionByName(src.filter($"o_custkey" % 97 === 0)
          .select(($"o_custkey" + 10000000L).as("key"), $"delta"))
      val tgt = t(s, dir, "customer")
        .select($"c_custkey", $"c_name", dec($"c_acctbal").as("_bal"))
      tgt.join(srcAll, tgt("c_custkey") === srcAll("key"), "full_outer")
        .filter(!($"key".isNotNull && $"c_custkey".isNotNull &&
          $"delta" > 400000))
        .select(coalesce($"c_custkey", $"key").as("c_custkey"),
          coalesce($"c_name", lit("NEW")).as("c_name"),
          when($"key".isNull, $"_bal")
            .when($"c_custkey".isNull, $"delta")
            .otherwise($"_bal" + $"delta")
            .cast("double").as("new_acctbal"),
          when($"key".isNull, "K").when($"c_custkey".isNull, "I")
            .otherwise("U").as("op"))
    },

    // Incremental aggregate refresh: the base partition's PARTIAL
    // aggregate state (count + decimal sum — both algebraic) merges
    // with the delta batch's state; avg derives at the end. The
    // incremental-ETL contract: refreshing the rollup reads the delta
    // plus |groups| base rows, never the base raw data — gated against
    // the full-recompute oracle to prove the merge is lossless.
    "q154_incremental_agg_refresh" -> { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders")
      val cut = to_timestamp(lit("1997-06-01"))
      def part(df: DataFrame) = df.groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec($"o_totalprice")).as("_sum"))
      part(o.filter($"o_orderdate" < cut))
        .unionByName(part(o.filter($"o_orderdate" >= cut)))
        .groupBy($"o_orderstatus")
        .agg(sum($"n_orders").as("n_orders"), sum($"_sum").as("_s"))
        .select($"o_orderstatus", $"n_orders",
          $"_s".cast("double").as("sum_price"),
          // double division of the EXACT decimal sum — Spark's decimal
          // division truncates at scale 6 where DuckDB keeps full
          // precision, so the deterministic form is double/long.
          ($"_s".cast("double") / $"n_orders").as("avg_price"))
    },

    // Snapshot reconciliation: diff two table versions into the CDC
    // classes added/removed/changed (unchanged rows — the overwhelming
    // mass — are filtered out, so the output is |changes|, not
    // |table|). The prior snapshot is a deterministic perturbation of
    // customer (dropped keys → added, shifted balances → changed,
    // extra keys → removed); ONE key-partitioned full-outer join,
    // column compares inside the join's codegen.
    "q155_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val cur = t(s, dir, "customer")
        .select($"c_custkey", $"c_name", dec($"c_acctbal").as("bal"))
      val prior = cur.filter($"c_custkey" % 101 =!= 0)
        .select($"c_custkey", $"c_name",
          when($"c_custkey" % 7 === 0, $"bal" - lit(10).cast(
            DecimalType(18, 2))).otherwise($"bal").as("bal"))
        .unionByName(cur.filter($"c_custkey" % 103 === 0)
          .select(($"c_custkey" + 5000000L).as("c_custkey"), $"c_name",
            $"bal"))
      snapshotDiff(cur, prior, "c_custkey", Seq("c_name", "bal"))
        .select($"c_custkey", $"diff_class",
          $"cur_bal".cast("double").as("cur_bal"),
          $"prior_bal".cast("double").as("prior_bal"))
    },

    // First-order Markov transition matrix over event types: per-user
    // consecutive pairs via ONE keyed window, counts per (prev, next)
    // plus the row-normalized probability in exact ppm (BIGINT div —
    // the 5×5 matrix a journey model trains on). The final window runs
    // over ≤|types|² aggregated rows.
    "q156_transition_matrix" -> { (s, dir) =>
      import s.implicits._
      transitionMatrix(t(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_id",
          $"event_type"),
        "user_id", "tsm", "event_id", "event_type")
    },

    // Z-order (Morton) clustering key over (customer, price-bin): the
    // bit-interleaved key Delta's OPTIMIZE ZORDER sorts by — files
    // range-partitioned on zkey are simultaneously clustered on BOTH
    // dimensions, so either predicate prunes ~√ of the files where a
    // lexicographic sort prunes only its leading column. Map-only
    // codegen'd bit arithmetic (16 interleave terms); at 100 TB the key
    // feeds repartitionByRange + sortWithinPartitions at write time.
    "q159_zorder_key" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderkey",
          expr("o_custkey & 65535").as("x"),
          expr("(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
            "AS BIGINT) div 5000000) & 65535").as("y"))
        .withColumn("zkey", zorder16($"x", $"y"))
        .withColumn("zbucket", expr("zkey div 4096"))
    },

    // Top-10 3-step event paths (sequence mining lite): per-user
    // sliding triples via two lags over ONE keyed window, counted, then
    // a deterministic global top-k over ≤|types|³ aggregated rows —
    // the "common journeys" report.
    "q160_top_paths" -> { (s, dir) =>
      import s.implicits._
      topPaths(t(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("tsm"), $"event_id",
          $"event_type"),
        "user_id", "tsm", "event_id", "event_type", k = 10)
    },

    // Multi-touch attribution: every click in the 7 days before a
    // purchase shares the conversion credit — LINEAR (equal split,
    // largest-remainder so each purchase's credits sum to EXACTLY 10⁶
    // ppm, most recent click first — the X79 apportionment device) and
    // TIME-DECAY (weight 2^-Δdays as the exact integer 10⁶ div 2^Δ,
    // floor-normalized). The last-touch model is q106's as-of; this is
    // the other report marketing runs. USER-keyed equi join (never a
    // time cross-join) + purchase-keyed windows; the per-user
    // click×purchase fanout is bounded by the 7-day window — the same
    // power-law-user caveat as the q107 timeline.
    "q161_multitouch_attribution" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      multiTouchAttribution(
        ev.filter($"event_type" === "purchase")
          .select($"user_id", unix_micros($"ts").as("ptsm"),
            $"event_id".as("pid")),
        ev.filter($"event_type" === "click")
          .select($"user_id", unix_micros($"ts").as("ctsm"),
            $"event_id".as("cid")),
        "user_id", windowMicros = 604800000000L,
        decayUnitMicros = 86400000000L)
    },

    // Trailing-7-day active users per day (the WAU curve): each distinct
    // (user, active-day) contributes to exactly 7 report days, so the
    // sliding distinct-count becomes explode(day..day+6) + one
    // countDistinct — 7×|user-days| rows, NEVER a per-day self-join
    // over users, and the explode factor is the window length, constant
    // at any corpus scale. Report days clipped to the observed range so
    // no phantom trailing days appear.
    "q162_trailing_active_users" -> { (s, dir) =>
      import s.implicits._
      trailingActiveUsers(t(s, dir, "events")
        .select($"user_id",
          expr("unix_micros(ts) div 86400000000L").as("d")),
        "user_id", "d", windowDays = 7)
    },

    // Z-order tile audit — q159's companion: per 4096-key zbucket, the
    // x/y extents and row count. The point of the curve is that every
    // bucket's extent is a BOUNDED 2-d tile (vs a lexicographic sort,
    // where the trailing dimension spans its full range in every
    // bucket) — this is the min/max metadata a file-skipping reader
    // prunes on. Aggregates over the q159 map-only output; constant
    // result rows (≤ 2¹⁰ buckets at 16+16 bits / 4096).
    "q163_zorder_tiles" -> { (s, dir) =>
      import s.implicits._
      queries("q159_zorder_key")(s, dir)
        .groupBy($"zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min($"x").as("x_min"), max($"x").as("x_max"),
          min($"y").as("y_min"), max($"y").as("y_max"))
    },

    // Salted two-phase aggregation — the hot-key mitigation SCALE.md
    // prescribes for power-law keys, gated as a first-class operator:
    // phase 1 aggregates per (key, salt) so a key owning 10% of all
    // events spreads across 16 partitions' partials; phase 2 merges the
    // ≤ 16·|keys| partial rows. Same result as the direct groupBy (the
    // oracle IS the direct form — count and decimal-sum are algebraic),
    // one extra exchange over 16·|keys| rows as the premium. The salt
    // comes from a row-local hash, never a random() (replayable).
    "q165_salted_agg" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .withColumn("_salt", pmod(xxhash64($"event_id"), lit(16)))
        .groupBy($"event_type", $"_salt")
        .agg(count(lit(1)).as("_pc"),
          sum(dec($"value")).as("_ps"))
        .groupBy($"event_type")
        .agg(sum($"_pc").as("n_events"),
          sum($"_ps").cast("double").as("total_value"))
    },

    // Single-source BFS hop distances over the customer→supplier→
    // nation→customer trade graph, from nation 0: the reachability
    // question ("how many hops from this nation to every entity it
    // trades through") as a frontier-expansion fixpoint — per round one
    // frontier⋈edges join against the once-materialized src-partitioned
    // edge list. Oracle: DuckDB recursive CTE over the same edges with
    // min-dist aggregation.
    "q166_bfs_hops" -> { (s, dir) =>
      graft.graphquery.Graph.bfsHops(
        tradeGraphEdges(s, dir), "src", "dst", source = "n0")
    },

    // Weighted single-source shortest paths: 8 SYNCHRONIZED
    // Bellman-Ford rounds over the weighted trade graph — after round r
    // every dist is exactly the cheapest ≤r-edge path, so the DuckDB
    // oracle unrolls the identical 8 relaxations (a recursive CTE would
    // enumerate every distinct path COST and explode under weights).
    "q195_sssp_weighted" -> { (s, dir) =>
      graft.graphquery.Graph.ssspRounds(
        tradeGraphEdgesWeighted(s, dir), "src", "dst", "w",
        source = "n0", rounds = 8)
    },

    // Integer-exact z-score anomaly days: a day is anomalous when its
    // event count is more than 2 population standard deviations from
    // the mean — tested WITHOUT floats as (n·x − S)² > 4·(n·SS − S²)
    // (both sides BIGINT; S = Σx, SS = Σx², n = #days). One daily
    // rollup, one single-row stats aggregate broadcast back (the q105
    // scalar shape), map-only flagging. The first alarm any ingest
    // pipeline fires.
    "q169_anomaly_days" -> { (s, dir) =>
      import s.implicits._
      zscoreAnomalies(
        t(s, dir, "events")
          .groupBy(date_trunc("day", $"ts").as("day"))
          .agg(count(lit(1)).as("n_events")),
        "n_events")
    },

    // Peak concurrent sessions per day — the capacity-planning number:
    // q48's gap-sessions become [start, end] intervals, clipped to day
    // boundaries (a bounded explode: sessions span few days), then the
    // classic +1/−1 boundary sweep as a PER-DAY running sum — the sweep
    // partitions by day, so no global sort ever materializes. Tie rule:
    // at equal timestamps starts sort before ends (delta desc), so
    // touching sessions count as concurrent; the day-group max is
    // deterministic regardless of intra-tie row order.
    "q171_peak_concurrency" -> { (s, dir) =>
      import s.implicits._
      val wu = Window.partitionBy($"user_id").orderBy($"ts")
      val sess = t(s, dir, "events")
        .withColumn("_prev", lag(unix_micros($"ts"), 1).over(wu))
        .withColumn("_new", ($"_prev".isNull ||
          unix_micros($"ts") - $"_prev" > 1800L * 1000000L).cast("long"))
        .withColumn("session_no", sum($"_new").over(wu))
        .groupBy($"user_id", $"session_no")
        .agg(min(unix_micros($"ts")).as("s"), max(unix_micros($"ts")).as("e"))
      val clipped = sess
        .select($"s", $"e", explode(expr(
          "sequence(s div 86400000000L, e div 86400000000L)")).as("day"))
        .select($"day",
          greatest($"s", $"day" * 86400000000L).as("cs"),
          least($"e", ($"day" + 1L) * 86400000000L - 1L).as("ce"))
      val bounds = clipped.select($"day", $"cs".as("tsm"), lit(1L).as("delta"))
        .unionByName(clipped.select($"day", ($"ce" + 1L).as("tsm"),
          lit(-1L).as("delta")))
      val wd = Window.partitionBy($"day").orderBy($"tsm".asc, $"delta".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bounds.withColumn("_run", sum($"delta").over(wd))
        .groupBy($"day").agg(max($"_run").as("peak_sessions"))
    },

    // Co-purchase pair mining (market-basket support + cosine²): pairs
    // of parts appearing in the same order, support ≥ 2, scored by the
    // integer-exact squared cosine n²·10⁶/(c_a·c_b) (monotone with
    // cosine — the q158 ratio discipline). Pair enumeration is
    // ROW-LOCAL over each order's sorted part set (TPC-H baskets are
    // bounded; a power-law basket would cap the set like q157 caps
    // postings) — never a basket self-join.
    "q172_copurchase_pairs" -> { (s, dir) =>
      import s.implicits._
      val baskets = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey").distinct()
      val items = baskets.groupBy($"l_partkey".as("p"))
        .agg(count(lit(1)).as("c"))
      baskets.groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("parts"))
        .filter(size($"parts") >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(1, size(parts) - 1), i -> " +
            "transform(sequence(i + 1, size(parts)), j -> " +
            "named_struct('a', parts[i - 1], 'b', parts[j - 1]))))"))
          .as("pr"))
        .groupBy($"pr.a".as("part_a"), $"pr.b".as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .filter($"n_orders" >= 2)
        .join(items.select($"p".as("part_a"), $"c".as("_ca")), Seq("part_a"))
        .join(items.select($"p".as("part_b"), $"c".as("_cb")), Seq("part_b"))
        // n²·10⁶/D through the q158 base-1000 long division — the naive
        // ·10⁶ product overflows once n² passes 9.2e12 (n ≈ 3e6 shared
        // orders); this form is exact while n < 3·10⁹ and the count
        // product D = c_a·c_b < 9.2·10¹⁵ (every intermediate ≤ D·10³).
        .withColumn("cosine2_ppm", expr(
          """CAST(((n_orders * n_orders) div (_ca * _cb)) * 1000000L
            |  + (((n_orders * n_orders) % (_ca * _cb)) * 1000L
            |      div (_ca * _cb)) * 1000L
            |  + ((((n_orders * n_orders) % (_ca * _cb)) * 1000L)
            |      % (_ca * _cb)) * 1000L div (_ca * _cb)
            |  AS BIGINT)""".stripMargin))
        .select($"part_a", $"part_b", $"n_orders", $"cosine2_ppm")
    },

    // RFM customer scoring (recency/frequency/monetary quintiles): each
    // metric's quintile comes from an EXACT global rank — but never a
    // single-partition ORDER BY window: [[globalRank]] is the q114
    // two-phase device (coarse bucket prefix offsets + bucket-parallel
    // rank). Score = ((rank−1)·5) div n + 1 — the deterministic
    // rank-range quintile (NOT SQL NTILE's remainder spreading; the
    // oracle mirrors this formula). Monetary is exact cents.
    "q173_rfm_scores" -> { (s, dir) =>
      import s.implicits._
      val rfm = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(max(expr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000L"))
          .as("recency_day"),
          count(lit(1)).as("frequency"),
          (sum(dec($"o_totalprice")) * 100).cast("long").as("monetary_cents"))
      val n = rfm.agg(count(lit(1)).as("_n"))
      val ranked = Seq(
        ("recency_day", "_rr", 1L), ("frequency", "_fr", 1L),
        ("monetary_cents", "_mr", 1000000L))
        .foldLeft(rfm) { case (d, (c, out, coarse)) =>
          globalRank(d, expr(s"-($c div ${coarse}L)"),
            Seq(col(c).desc, col("o_custkey").asc), out)
        }
      ranked.crossJoin(broadcast(n))
        .withColumn("r_score", expr("((_rr - 1) * 5) div _n + 1"))
        .withColumn("f_score", expr("((_fr - 1) * 5) div _n + 1"))
        .withColumn("m_score", expr("((_mr - 1) * 5) div _n + 1"))
        .withColumn("rfm_code",
          expr("r_score * 100 + f_score * 10 + m_score"))
        .select($"o_custkey", $"recency_day", $"frequency",
          $"monetary_cents", $"r_score", $"f_score", $"m_score",
          $"rfm_code")
    },

    // Referential-integrity audit: orphan counts for every FK relation
    // in the schema, one row each — the data-quality gate a warehouse
    // load runs before publishing. Anti-joins (broadcast for the
    // 25-row nation dim, shuffled for fact-sized parents); null FKs
    // count as orphans (they match nothing), mirroring NOT EXISTS.
    "q174_fk_audit" -> { (s, dir) =>
      import s.implicits._
      def audit(name: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String,
                bcast: Boolean): DataFrame = {
        val p = parent.select(col(pkey))
        child.join(if (bcast) broadcast(p) else p,
            child(key) === col(pkey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"),
            countDistinct(col(key)).as("n_orphan_keys"))
          .select(lit(name).as("relation"), $"n_orphans", $"n_orphan_keys")
      }
      val li = t(s, dir, "lineitem")
      audit("lineitem->orders", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", bcast = false)
        .unionByName(audit("orders->customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey", bcast = false))
        .unionByName(audit("lineitem->part", li, "l_partkey",
          t(s, dir, "part"), "p_partkey", bcast = false))
        .unionByName(audit("lineitem->supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey", bcast = false))
        .unionByName(audit("customer->nation", t(s, dir, "customer"),
          "c_nationkey", t(s, dir, "nation"), "n_nationkey", bcast = true))
        .unionByName(audit("supplier->nation", t(s, dir, "supplier"),
          "s_nationkey", t(s, dir, "nation"), "n_nationkey", bcast = true))
    },

    // CUSUM change-point alarm over daily event counts (Page 1954),
    // integer-exact and WINDOW-expressible: the recursive
    // c_t = max(0, c_{t−1} + x_t − μ − slack) has the closed form
    // c_t = P_t − min_{0≤j≤t} P_j (P = prefix sum of the drift-adjusted
    // deviations, P₀ = 0) — a running sum minus a running min, no
    // sequential fold anywhere. μ and the 5% slack come from one scalar
    // broadcast; the windows run over the BOUNDED day table. Alarm when
    // the accumulated upward drift exceeds μ.
    "q177_cusum_changepoints" -> { (s, dir) =>
      import s.implicits._
      cusumAlarms(t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000L").as("day"))
        .agg(count(lit(1)).as("n_events")),
        "day", "n_events")
    },

    // Salted top-k for HEAVY groups: top-10 events by value per
    // event_type — 5 groups over the whole corpus, so the plain per-type
    // window is 5 giant single-task partitions. Two-phase instead:
    // (type, salt-16) partial top-10, then the final top-10 over ≤ 16·10
    // survivors per type. Same oracle as the plain window (top-k is
    // salt-decomposable: the global top-10 survives every partial cut).
    "q178_salted_topk" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_type", $"event_id",
          (dec($"value") * 100).cast("long").as("value_cents"))
        .withColumn("_salt", pmod(xxhash64($"event_id"), lit(16)))
      val w1 = Window.partitionBy($"event_type", $"_salt")
        .orderBy($"value_cents".desc, $"event_id".asc)
      val w2 = Window.partitionBy($"event_type")
        .orderBy($"value_cents".desc, $"event_id".asc)
      ev.withColumn("_r1", row_number().over(w1)).filter($"_r1" <= 10)
        .withColumn("rank", row_number().over(w2)).filter($"rank" <= 10)
        .select($"event_type", $"rank", $"event_id", $"value_cents")
    },

    // Order-independent table checksums per day partition — the
    // anti-entropy primitive two replicas compare to find diverged
    // partitions without moving rows: each row hashes canonically
    // (md5-prefix of a '|'-joined exact rendering, the hashU32 device),
    // each partition publishes (count, XOR, sum) of row hashes — all
    // three order- and partitioning-independent, so ANY engine computes
    // the identical signature. One map-side-combined aggregation.
    "q179_table_checksum" -> { (s, dir) =>
      import s.implicits._
      // NULL fields render as the explicit '\N' sentinel — concat_ws
      // SKIPS nulls (collapsing the separator, so different-column
      // nulls would collide) and DuckDB's || NULLs the whole string;
      // coalescing every field first makes the rendering injective and
      // engine-identical. (A literal "\N" string value collides with a
      // rendered NULL — the classic CSV-sentinel caveat; none of these
      // columns carries one.)
      def f(c: org.apache.spark.sql.Column) =
        coalesce(c.cast("string"), lit("\\N"))
      t(s, dir, "orders")
        .select(
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000L")
            .as("day"),
          graft.llm.Corpus.hashU32(
            concat_ws("|", f($"o_orderkey"), f($"o_custkey"),
              f($"o_orderstatus"),
              f((dec($"o_totalprice") * 100).cast("long")),
              f($"o_orderpriority")), "ck:").as("_h"))
        .groupBy($"day")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(_h)").as("xor_sig"),
          sum($"_h").as("sum_sig"))
    },

    // Contingency lift (observed/expected ratio in exact ppm) for the
    // lang × source mix: lift_ppm = n·T·10⁶ div (R·C) — the mix-drift
    // monitor (independence ⇒ 10⁶). Two small keyed margin joins + the
    // scalar total broadcast; the q158 overflow note applies past
    // n·T ≈ 9·10¹² (switch to the base-1000 device there).
    "q180_contingency_lift" -> { (s, dir) =>
      import s.implicits._
      val d = t(s, dir, "documents")
      val cell = d.groupBy($"lang", $"source").agg(count(lit(1)).as("n_docs"))
      val rowM = d.groupBy($"lang").agg(count(lit(1)).as("_r"))
      val colM = d.groupBy($"source").agg(count(lit(1)).as("_c"))
      val tot = d.agg(count(lit(1)).as("_t"))
      cell.join(broadcast(rowM), Seq("lang"))
        .join(broadcast(colM), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("lift_ppm",
          expr("(n_docs * _t * 1000000L) div (_r * _c)"))
        .select($"lang", $"source", $"n_docs", $"lift_ppm")
    },

    // "Customers also bought": the item-item recommender table — q172's
    // co-purchase pairs symmetrized, then top-3 recommendations per
    // part by (cosine² desc, support desc, id asc). One window over the
    // pair table (each part's candidate list is its co-purchase
    // neighborhood, bounded by basket geometry, never the catalog).
    "q182_also_bought" -> { (s, dir) =>
      import s.implicits._
      val pairs = queries("q172_copurchase_pairs")(s, dir)
      val sym = pairs.select($"part_a".as("part"), $"part_b".as("rec"),
          $"n_orders", $"cosine2_ppm")
        .unionByName(pairs.select($"part_b".as("part"),
          $"part_a".as("rec"), $"n_orders", $"cosine2_ppm"))
      val w = Window.partitionBy($"part")
        .orderBy($"cosine2_ppm".desc, $"n_orders".desc, $"rec".asc)
      sym.withColumn("rec_rank", row_number().over(w))
        .filter($"rec_rank" <= 3)
        .select($"part", $"rec_rank", $"rec", $"n_orders", $"cosine2_ppm")
    },

    // Kolmogorov–Smirnov drift between two value distributions (view
    // vs purchase), integer-exact: cross-multiply the two empirical
    // CDFs so the statistic is max |cumA·n_B − cumB·n_A| over the
    // exact-cents bins — no division until the final ppm rendering
    // (base-1000). The distribution-drift monitor next to q180's
    // categorical lift: one binned aggregation with conditional
    // counts, cumulative windows over the BOUNDED bin table, scalar
    // totals broadcast.
    "q184_ks_drift" -> { (s, dir) =>
      import s.implicits._
      val binned = t(s, dir, "events")
        .filter($"event_type".isin("view", "purchase"))
        .select($"event_type",
          (dec($"value") * 100).cast("long").as("_cents"))
        .select($"event_type", expr("_cents div 100").as("bin"))
        .groupBy($"bin")
        .agg(sum(when($"event_type" === "view", 1L).otherwise(0L)).as("_a"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("_b"))
      ksDrift(binned, "n_view", "n_purchase")
    },

    // Id-space completeness audit over 4096-key buckets: per bucket of
    // the F-status order keys, row/distinct counts, the id extent, and
    // the derived missing/duplicate counts — the file-level ingest
    // audit (which id ranges are short, where to re-pull) computed in
    // ONE map-side-combined aggregation, no sort, no self-join; the
    // audited subset has gaps by construction so the gate checks real
    // arithmetic, not a column of zeros.
    "q185_id_completeness" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_orderstatus" === "F")
        .select($"o_orderkey", expr("o_orderkey div 4096").as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"o_orderkey").as("n_distinct"),
          min($"o_orderkey").as("id_min"),
          max($"o_orderkey").as("id_max"))
        .withColumn("n_missing",
          expr("id_max - id_min + 1L - n_distinct"))
        .withColumn("n_dup", expr("n_rows - n_distinct"))
    },

    // EXACT grouped percentiles over a bounded integer domain:
    // order→ship latency in whole DAYS per order priority. Because the
    // value domain is already discrete and bounded (~hundreds of day
    // values), the q176 histogram device is exact here, per group: one
    // (priority, days) aggregation, cumulative windows over the bounded
    // per-priority day table, ceil-threshold conditional mins — never a
    // per-priority sort of the fact table (the q178 giant-partition
    // trap).
    "q186_latency_percentiles" -> { (s, dir) =>
      import s.implicits._
      val lat = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_shipdate")
        .join(t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority", expr(
          "(unix_micros(CAST(l_shipdate AS TIMESTAMP)) - " +
            "unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000L")
          .as("days"))
      val counts = lat.groupBy($"o_orderpriority", $"days")
        .agg(count(lit(1)).as("n"))
      val tot = counts.groupBy($"o_orderpriority").agg(sum($"n").as("_n"))
      val wg = Window.partitionBy($"o_orderpriority").orderBy($"days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.withColumn("cum", sum($"n").over(wg))
        .join(broadcast(tot), "o_orderpriority")
        .groupBy($"o_orderpriority")
        .agg(first($"_n").as("n_lineitems"),
          min(when($"cum" * 100L >= $"_n" * 50L, $"days")).as("p50_days"),
          min(when($"cum" * 100L >= $"_n" * 90L, $"days")).as("p90_days"),
          min(when($"cum" * 100L >= $"_n" * 99L, $"days")).as("p99_days"))
    },

    // Histogram-based approximate percentiles (p50/p90/p99 of event
    // value): exact-cents $1 bins → one map-side-combined count
    // aggregate → cumulative over the BOUNDED bin table → first bin
    // with cum ≥ ceil(p·n/100) via three conditional mins, no
    // inequality join. The at-scale alternative to q142's exact rank
    // selection: the corpus crosses the wire once as bin partials, and
    // the only window runs over ≤ |bins| rows. Error is bounded by the
    // bin width by construction.
    "q176_histogram_quantiles" -> { (s, dir) =>
      histQuantileReport(eventValueBins(t(s, dir, "events")))
    },

    // Calendar gap-fill + forward fill — the time-series completion
    // every reporting layer needs: the per-(type, day) aggregate leaves
    // holes where a type had no events; the grid completes each type's
    // [min, max] day span (sequence explode — |types|·|days| rows,
    // bounded, never corpus-sized), zero-fills the counts, and
    // forward-fills the last observed daily sum with one
    // last(ignoreNulls) window per type. The DuckDB oracle replays the
    // forward fill as an ASOF self-join (greatest daily day_n ≤ grid
    // day_n) — same relation, independent device.
    "q194_gapfill_ffill" -> { (s, dir) =>
      import s.implicits._
      gapFillForwardFill(
        t(s, dir, "events")
          .select($"event_type",
            expr("unix_micros(ts) div 86400000000").as("day_n"),
            (dec($"value") * 100).cast("long").as("_cents")),
        "event_type", "day_n")
    },

    // q176's quantiles served from a PERSISTED, MERGED histogram index —
    // the X172/X24 sign-once discipline applied to distributions: the
    // first half of the events (by event_id parity) lands as a (bin, n)
    // parquet table, the second half merges in map-only (bin counts ADD —
    // the merge is exact, not approximate), and the percentile report
    // runs off the ≤|bins| stored rows alone. Oracle: q176's single-shot
    // SQL verbatim. At 100 TB the dashboard never re-reads events; each
    // batch contributes one aggregation of itself.
    "q191_hist_merged" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
      val idx = LlmQueries.indexDir(s, dir, "q191_hist")
      eventValueBins(ev.filter($"event_id" % 2 === 0))
        .write.mode("overwrite").parquet(idx)
      ShardStore.merge(eventValueBins(ev.filter($"event_id" % 2 =!= 0)),
        idx, histMerge)
      histQuantileReport(parquet(s, idx))
    },

    // Unbounded-domain quantiles from the PERSISTED, MERGED
    // deterministic GK/KLL-family sketch — the rank-error-bounded
    // complement to q191's fixed-bin histogram (no a-priori bin width
    // anywhere): each event-id-parity half of the events builds its own
    // weighted-value summary, the second merges into the stored index
    // as a bag union, and the percentile report runs off the
    // summary-sized rows alone. The oracle replays the md5 bucket
    // draw, the per-bucket rank compaction, and the merge digit for
    // digit — approximate in rank, EXACT in bytes.
    "q206_quantile_sketch" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_id", (dec($"value") * 100).cast("long").as("_cents"))
      val idx = LlmQueries.indexDir(s, dir, "q206_qsk")
      quantileSketch(ev.filter($"event_id" % 2 === 0), Nil, "event_id",
        "_cents").write.mode("overwrite").parquet(idx)
      ShardStore.merge(quantileSketch(ev.filter($"event_id" % 2 =!= 0),
        Nil, "event_id", "_cents"), idx, quantileMerge(Nil))
      quantileReport(parquet(s, idx), Nil)
    },

    // q213's percentile feature PER KEY: each event_type's sketch packs
    // into its own binary-search timeline, rows attach by a keyed
    // equi-join — per-language/per-service normalization with no
    // per-key sort of the fact stream and no scalar broadcast. Oracle
    // replays the grouped sketch and every per-row keyed rank.
    "q232_grouped_normalize" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"event_type",
        (dec($"value") * 100).cast("long").as("cents"))
      val keys = Seq("event_type")
      quantileNormalize(ev, keys, "cents",
        quantileSketch(ev, keys, "event_id", "cents"))
        .select($"event_id", $"event_type", $"cents", $"rank_ppm")
    },

    // One-pass column profile over orders (a tenth of o_custkey
    // nullified so the null counter measures something): row/null
    // counts, lexical min/max, and the KMV distinct estimate per
    // column from ONE scan — the naive profile pays a COUNT(DISTINCT)
    // shuffle per column. Oracle replays every md5 slot.
    "q233_column_profile" -> { (s, dir) =>
      val o = t(s, dir, "orders").withColumn("o_custkey",
        when(col("o_orderkey") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")))
      columnProfile(o, Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority"))
    },

    // Per-key winsorization at [p05, p95] off the grouped sketch — the
    // outlier clip every feature pipeline runs, with both bounds
    // sketch-served (no per-key sort) and the clip a single map.
    // Oracle replays the grouped sketch, both percentile picks, and
    // every clipped value.
    "q235_winsorize" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"event_type",
        (dec($"value") * 100).cast("long").as("cents"))
      winsorizeByKey(ev, "event_type", "cents",
        quantileSketch(ev, Seq("event_type"), "event_id", "cents"),
        lowPct = 5, highPct = 95)
        .select($"event_id", $"event_type", $"cents", $"lo_v", $"hi_v",
          $"clipped")
    },

    // Quantile-normalized value feature: every event gets its
    // percentile rank from the q206-family sketch WITHOUT any global
    // sort or percent_rank window — one broadcast summary row + a
    // map-only array lookup per event. Oracle replays sketch AND
    // per-row cumulative rank digit for digit.
    "q213_quantile_normalize" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"event_id", (dec($"value") * 100).cast("long").as("cents"))
      quantileNormalize(ev, Nil, "cents",
        quantileSketch(ev, Nil, "event_id", "cents"))
        .select($"event_id", $"cents", $"rank_ppm")
    },

    // Per-key percentiles from ONE grouped sketch pass — the "p99 per
    // service" serving table: per-(key, bucket) rank compaction,
    // persisted, merged per key across two halves, and reported with
    // every stage keyed (no scalar broadcast, no per-key sort of the
    // facts). Oracle replays the grouped build + merge digit for digit.
    "q214_grouped_quantiles" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"event_type",
        (dec($"value") * 100).cast("long").as("_cents"))
      val idx = LlmQueries.indexDir(s, dir, "q214_qsk")
      val keys = Seq("event_type")
      quantileSketch(ev.filter($"event_id" % 2 === 0), keys, "event_id",
        "_cents").write.mode("overwrite").parquet(idx)
      ShardStore.merge(quantileSketch(ev.filter($"event_id" % 2 =!= 0),
        keys, "event_id", "_cents"), idx, quantileMerge(keys))
      quantileReport(parquet(s, idx), keys)
    },

    // Robust per-key anomaly flags: sketch-served median + MAD per
    // event_type, every event scored with the integer robust z — the
    // spike-immune twin of q169, with zero per-key sorts. The oracle
    // replays both grouped sketches and every score digit for digit.
    "q216_robust_anomalies" -> { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"event_type",
        (dec($"value") * 100).cast("long").as("cents"))
      robustAnomalies(ev, "event_type", "event_id", "cents")
    }
  )

  /** Exact whole-currency bins of the events `value` column — the q176
    * histogram's first aggregation, shared with the persisted-index form.
    */
  private[operators] def eventValueBins(events: DataFrame): DataFrame =
    events.select((dec(col("value")) * 100).cast("long").as("_cents"))
      .select(expr("_cents div 100").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))

  /** The q176 percentile report over a (bin, n) histogram: the
    * [[percentilePicks]] crossing over (bin·100 as v, n as w) — a
    * cumulative window over ≤|bins| rows + one scalar broadcast;
    * p50/p90/p99 as the first bin whose cumulative count crosses the
    * ceil threshold. */
  private[operators] def histQuantileReport(counts: DataFrame): DataFrame =
    percentilePicks(
      counts.select((col("bin") * 100L).as("v"), col("n").as("w")), Nil,
      Some("n_events"), "p50_cents" -> 50, "p90_cents" -> 90,
      "p99_cents" -> 99)

  /** Gap-fill + forward fill over a (key, day, value) event set: one
    * daily aggregation of the input, a bounded per-key [min, max]
    * sequence grid, a left join back, zero-filled counts and a
    * last-non-null window for the carried value. Input must carry
    * `_cents` (the per-row long value); output is (key, day, n_events,
    * last_cents). Grid and windows are |keys|·|days| — reporting-table
    * sized at any corpus scale.
    */
  def gapFillForwardFill(df: DataFrame, keyCol: String,
                         dayCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol), col(dayCol))
      .agg(count(lit(1)).as("n_events"), sum(col("_cents")).as("_day_cents"))
    val spans = daily.groupBy(col(keyCol))
      .agg(min(col(dayCol)).as("_d0"), max(col(dayCol)).as("_d1"))
    val grid = spans.select(col(keyCol),
      explode(expr("sequence(_d0, _d1)")).as(dayCol))
    grid.join(daily, Seq(keyCol, dayCol), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("last_cents",
        last(col("_day_cents"), ignoreNulls = true).over(
          Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_day_cents")
  }

  /** The histogram merge law over stored ∪ batch (bin, n) rows: bin
    * counts ADD, so unlike a sketch the merge is EXACT — a merged index
    * equals the from-scratch histogram of the concatenated data bit for
    * bit (q191's gate reuses q176's single-shot oracle). Addition is NOT
    * idempotent: a replaying caller ledgers batches or lands `batch_id=`
    * shards ([[ShardStore.writeShard]]). */
  val histMerge: ShardStore.Additive = ShardStore.Additive.cellSum("bin")

  /** Deterministic mergeable QUANTILE sketch (GK/KLL family) — the
    * unbounded-domain companion the histogram index cannot be: rank
    * queries with a bounded error and NO a-priori bin width, built so
    * an external engine replays the summary bit for bit.
    *
    * Construction: rows shard into `buckets` CONTENT-DEFINED buckets
    * (md5 of the row id — the q52 draw device, so the sketch is a pure
    * function of the key set, independent of Spark partitioning); each
    * bucket sorts by (value, id) and keeps every `step`-th rank where
    * `step = ceil(n_b / capacity)`, the kept row carrying the weight of
    * the run it heads (`min(step, n_b − rank + 1)` — weights sum to
    * n_b exactly). This is the classical equi-spaced rank compaction —
    * the deterministic replacement for KLL's coin-flip compactor, with
    * the same summary-size/error trade: within a bucket the cumulative
    * weight at any value differs from the true rank by < step, so the
    * total rank error is ≤ Σ_b step_b ≤ buckets + N/capacity
    * (sbt-asserted against exact percentiles).
    *
    * `keys` groups the sketch: the bucket window partitions by (keys…,
    * bucket), so ONE pass builds one (keys…, v, w) summary per key,
    * compacted key-parallel, ≤ |keys|·buckets·capacity rows — the "p99
    * latency per service / tokens per language" serving table with NO
    * per-key sort of the fact stream. Rank bound, merge law and
    * determinism hold key by key. `Nil` is the global sketch, a (v, w)
    * bag; every operator of this family takes the same `keys`.
    *
    * The sketch is a weighted-value bag: MERGE = bag union per key
    * (errors add — the mergeability law of every GK-family summary),
    * replayed exactly by the oracle; [[compactQuantileSketch]] bounds
    * the stored size when batches accumulate. Scale shape: one
    * bucket-keyed window shuffle over the corpus — the same cost class
    * as any keyed aggregation; everything downstream is summary-sized.
    */
  def quantileSketch(df: DataFrame, keys: Seq[String], idCol: String,
                     valueCol: String, buckets: Int = 16,
                     capacity: Int = 64): DataFrame = {
    val perBk = Window.partitionBy(keys.map(col) :+ col("_bk"): _*)
    val w = perBk.orderBy(col(valueCol), col(idCol))
    df.select((keys :+ idCol :+ valueCol).map(col): _*)
      .withColumn("_bk",
        graft.llm.Corpus.hashU32(col(idCol), "qk:") % buckets)
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_nb", count(lit(1)).over(perBk))
      .withColumn("_step", expr(s"(_nb + ${capacity - 1}) div $capacity"))
      .filter(expr("(_rn - 1) % _step = 0"))
      .select(keys.map(col) :+ col(valueCol).as("v") :+
        least(col("_step"), col("_nb") - col("_rn") + 1L).as("w"): _*)
  }

  /** A (keys…, v, w) sketch with equal values collapsed per key by
    * weight addition — harmless to ranks, and the bag union that
    * merges sketches. */
  private def weightBag(sk: DataFrame, keys: Seq[String]): DataFrame =
    sk.groupBy((keys :+ "v").map(col): _*).agg(sum(col("w")).as("w"))

  /** Attach a per-key summary to `df`. For `Nil` the summary is ONE row,
    * broadcast onto every row; otherwise an equi-join on the keys
    * (|keys| summary rows — no scalar broadcast, no cross join). */
  private def attach(df: DataFrame, small: DataFrame,
                     keys: Seq[String]): DataFrame =
    if (keys.isEmpty) df.crossJoin(broadcast(small)) else df.join(small, keys)

  /** Running weight in value order, per key — the cumulative rank over
    * a summary-sized bag (for `Nil` a single-partition window, bounded
    * by the summary, never the corpus). */
  private def cumWeight(keys: Seq[String]): Column =
    sum(col("w")).over(Window.partitionBy(keys.map(col): _*)
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** The cumulative-crossing pick over a (keys…, v, w) bag with one row
    * per (keys, v): per key, each (name, p) pick is the first v whose
    * cumulative weight crosses the ceil threshold `cum·100 ≥ _n·p`, and
    * `total` names the key's weight sum when the caller reports it.
    * One keyed window and one [[attach]] over summary-sized rows. */
  private def percentilePicks(bag: DataFrame, keys: Seq[String],
                              total: Option[String],
                              picks: (String, Int)*): DataFrame = {
    val ks = keys.map(col)
    val nTot = bag.groupBy(ks: _*).agg(sum(col("w")).as("_n"))
    val aggs = total.map(n => first(col("_n")).as(n)).toSeq ++ picks.map {
      case (name, p) =>
        min(when(col("cum") * 100L >= col("_n") * p.toLong, col("v")))
          .as(name)
    }
    attach(bag.withColumn("cum", cumWeight(keys)), nTot, keys)
      .groupBy(ks: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** p50/p90/p99 + total (`n_total`) per key from a (keys…, v, w)
    * sketch: the [[percentilePicks]] crossing over the summary-sized
    * weighted bag. */
  def quantileReport(sketch: DataFrame, keys: Seq[String]): DataFrame =
    percentilePicks(weightBag(sketch, keys), keys, Some("n_total"),
      "p50_v" -> 50, "p90_v" -> 90, "p99_v" -> 99)

  /** Robust per-key anomaly scores — median/MAD instead of q169's
    * mean/variance, so a day of spikes cannot drag its own baseline:
    * per-key median and MAD (median absolute deviation) are BOTH served
    * from keyed [[quantileSketch]] summaries (two grouped sketch passes,
    * zero per-key sorts of the fact stream — the statistic the
    * classical form computes with two total orders per key), then
    * every row scores `robust_ppm = |x − med| · 674500 div max(MAD, 1)`
    * — the integer form of the 0.6745·(x−med)/MAD robust z, flagged
    * above `thresholdPpm` (default 3.5 in ppm). Integer-exact and
    * deterministic end to end, so the oracle replays both sketches and
    * every score. Approximation inherits the per-key sketch rank bound
    * on med/MAD — the SCORES are exact given those two statistics. */
  def robustAnomalies(df: DataFrame, keyCol: String, idCol: String,
                      valueCol: String,
                      thresholdPpm: Long = 3500000L): DataFrame = {
    val keys = Seq(keyCol)
    val med = quantileReport(quantileSketch(df, keys, idCol, valueCol), keys)
      .select(col(keyCol), col("p50_v").as("med_v"))
    val dev = df.join(broadcast(med), keys)
      .withColumn("_dev", abs(col(valueCol) - col("med_v")))
    val mad = quantileReport(quantileSketch(dev, keys, idCol, "_dev"), keys)
      .select(col(keyCol), col("p50_v").as("mad_v"))
    dev.join(broadcast(mad), keys)
      .withColumn("robust_ppm",
        expr("(_dev * 674500L) div greatest(mad_v, 1L)"))
      .withColumn("is_anomaly",
        (col("robust_ppm") > thresholdPpm).cast("long"))
      .select(col(idCol), col(keyCol), col(valueCol), col("med_v"),
        col("mad_v"), col("robust_ppm"), col("is_anomaly"))
  }

  /** The quantile merge law over stored ∪ batch (keys…, v, w) sketches:
    * bag union per key (`weightBag` — equal values collapse by weight
    * addition, harmless to ranks). Rank errors ADD per merged batch
    * (≤ buckets + N_i/capacity each — the GK merge law). Weights add,
    * so it is NOT idempotent: a replaying caller ledgers batches or
    * lands `batch_id=` shards ([[ShardStore.writeShard]]). */
  def quantileMerge(keys: Seq[String]): ShardStore.Additive =
    ShardStore.Additive(weightBag(_, keys))

  /** Deterministic recompaction of a (keys…, v, w) sketch to ≤
    * `capacity` + 1 rows per key — the size bound when many batches
    * merge: value order per key over the SUMMARY (reporting-sized,
    * never the corpus), keep each row whose weight span covers a
    * multiple of `step = ceil(W / capacity)` plus the key's max row,
    * re-weighting each survivor with the cumulative span since the
    * previous survivor (each key's weights still sum to its W exactly;
    * adds ≤ step rank error once, key by key). */
  def compactQuantileSketch(sk: DataFrame, keys: Seq[String],
                            capacity: Int = 1024): DataFrame = {
    val ks = keys.map(col)
    val byV = weightBag(sk, keys)
    val tot = byV.groupBy(ks: _*).agg(sum(col("w")).as("_W"))
    attach(byV.withColumn("_cum", cumWeight(keys)), tot, keys)
      .withColumn("_step", expr(s"(_W + ${capacity - 1}) div $capacity"))
      .filter(expr("(_cum - 1) div _step > (_cum - w - 1) div _step") ||
        col("_cum") === col("_W"))
      .withColumn("_pc", lag(col("_cum"), 1)
        .over(Window.partitionBy(ks: _*).orderBy(col("v"))))
      .select(ks :+ col("v") :+
        (col("_cum") - coalesce(col("_pc"), lit(0L))).as("w"): _*)
  }

  /** Quantile NORMALIZATION off a [[quantileSketch]] summary — the
    * map-only percentile-rank feature transform: every row gets
    * `rank_ppm = ⌊Σ_{v_i ≤ v} w_i · 10⁶ / N⌋`, its approximate
    * percentile in its key's distribution. Each key's summary collapses
    * to ONE row — the sorted (v, cum) pairs packed as an `asof_probe`
    * timeline (the X170 device) — that [[attach]] puts beside the
    * key's rows, and the per-row lookup is the codegen'd BINARY SEARCH,
    * O(log summary) per row: the first cut of this operator ran an
    * `aggregate(filter(...))` HOF per row and probed LINEAR (9.8 s →
    * 100 s at 10×, the interpreted-HOF trap the cube note documents);
    * the asof form probes 1.6 s → 3.0 s. NO sort of the facts and NO
    * percent_rank window anywhere — the classical percentile feature
    * needs a total order of the corpus, this needs one summary per key
    * and a map. Rank error inherits the sketch bound; integer-exact,
    * so an external engine replays every rank. */
  def quantileNormalize(df: DataFrame, keys: Seq[String], valueCol: String,
                        sketch: DataFrame): DataFrame = {
    graft.functions.NativeExpressions.register(df.sparkSession)
    val summary = weightBag(sketch, keys)
      .withColumn("_cum", cumWeight(keys))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("v").as("_t"),
          col("_cum").as("_v")))).as("_tl"),
        sum(col("w")).as("_n"))
    attach(df, summary, keys)
      .withColumn("rank_ppm", expr(
        s"coalesce(asof_probe(_tl, cast($valueCol as bigint)), 0L)" +
          " * 1000000L div _n"))
      .drop("_tl", "_n")
  }

  /** Percentile WINSORIZATION per key off a keyed [[quantileSketch]]
    * summary — the outlier-clipping feature prep (clip each value into
    * its key's [p`lowPct`, p`highPct`] band): both bounds are
    * [[percentilePicks]] at arbitrary percentiles, attach by a
    * broadcastable |keys|-row join, and the clip is one map — no
    * per-key sort of the facts, rank error inherits the sketch bound.
    * Output adds (lo_v, hi_v, clipped). */
  def winsorizeByKey(df: DataFrame, keyCol: String, valueCol: String,
                     sketch: DataFrame, lowPct: Int = 1,
                     highPct: Int = 99): DataFrame = {
    require(0 <= lowPct && lowPct < highPct && highPct <= 100,
      s"bad percentile band [$lowPct, $highPct]")
    val keys = Seq(keyCol)
    val bounds = percentilePicks(weightBag(sketch, keys), keys, None,
      "lo_v" -> lowPct, "hi_v" -> highPct)
    df.join(broadcast(bounds), keys)
      .withColumn("clipped",
        greatest(col("lo_v"), least(col("hi_v"), col(valueCol))))
  }

  /** One-pass column profile — the data-quality staple run before any
    * ingest is trusted: per listed column, row count, null count,
    * lexical min/max, and a KMV distinct ESTIMATE (k smallest md5
    * draws — the q175 device, engine-replayable digit for digit).
    * Exactly ONE scan of the table (a column-struct explode), one
    * (column)-keyed aggregate, and one per-column bottom-k window over
    * the DEDUPED (column, hash) pairs — cost independent of any
    * column's cardinality, where the naive per-column
    * COUNT(DISTINCT) profile pays a full shuffle per column. */
  def columnProfile(df: DataFrame, cols: Seq[String], k: Int = 64,
                    salt: String = "prof:"): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    val rows = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("_v"))): _*))
      .as("_p")).select(col("_p.column").as("column"), col("_p._v").as("_v"))
    val stats = rows.groupBy(col("column"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_null"),
        min(col("_v")).as("min_lex"), max(col("_v")).as("max_lex"))
    // Two-phase bottom-k: a (column, hash-salt)-keyed partial rank
    // prunes to ≤ 32·k candidates per column BEFORE the per-column
    // global rank — the global window then sorts bounded rows instead
    // of one task sorting a column's whole distinct cardinality (the
    // single-task trap the 10× probe surfaced at 4.6×).
    val wPre = Window.partitionBy(col("column"), col("_sb"))
      .orderBy(col("_h").asc)
    val w = Window.partitionBy(col("column")).orderBy(col("_h").asc)
    val slots = rows.filter(col("_v").isNotNull)
      .select(col("column"), graft.llm.Corpus.hashU32(col("_v"), salt)
        .as("_h"))
      .distinct()
      .withColumn("_sb", pmod(col("_h"), lit(32)))
      .withColumn("_pr", row_number().over(wPre))
      .filter(col("_pr") <= k)
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
    val est = slots.groupBy(col("column"))
      .agg(count(lit(1)).as("_nk"), max(col("_h")).as("_hk"))
      .select(col("column"),
        when(col("_nk") < k, col("_nk"))
          .otherwise(expr(s"${k - 1}L * 4294967296L div greatest(_hk, 1L)"))
          .cast("long").as("n_distinct_est"))
    stats.join(est, Seq("column"), "left")
      .select(col("column"), col("n_rows"), col("n_null"),
        coalesce(col("n_distinct_est"), lit(0L)).as("n_distinct_est"),
        col("min_lex"), col("max_lex"))
  }

  /** CUSUM change-point alarm (Page 1954) over an ordered integer
    * series, window-expressible: the recursion
    * `c_t = max(0, c_{t−1} + x_t − μ − slack)` (μ = integer mean,
    * slack = μ div 20) has the closed form `c_t = P_t − min_{0≤j≤t} P_j`
    * with P the prefix sum of drift-adjusted deviations and P₀ = 0 — so
    * the whole alarm is a running sum and a running min over the
    * BOUNDED series table (|days|-sized, never the corpus), plus one
    * scalar stats broadcast. Alarms when the accumulated upward drift
    * exceeds μ. Columns out: (orderCol, valueCol, cusum, is_alarm).
    */
  def cusumAlarms(series: DataFrame, orderCol: String,
                  valueCol: String): DataFrame = {
    val stats = series.agg(count(lit(1)).as("_n"),
      sum(col(valueCol)).as("_s"))
    val wc = Window.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.crossJoin(broadcast(stats))
      .withColumn("_mu", expr("_s div _n"))
      .withColumn("_d", expr(s"$valueCol - _mu - (_mu div 20)"))
      .withColumn("_p", sum(col("_d")).over(wc))
      .withColumn("_runmin", min(col("_p")).over(wc))
      .withColumn("cusum", col("_p") - least(col("_runmin"), lit(0L)))
      .withColumn("is_alarm", expr("CAST(cusum > _mu AS BIGINT)"))
      .select(col(orderCol), col(valueCol), col("cusum"), col("is_alarm"))
  }

  /** Kolmogorov–Smirnov distance between two binned samples without a
    * single float: input has one row per `bin` with the two sides'
    * counts in `_a`/`_b`; the statistic is `max |cumA·n_B − cumB·n_A|`
    * over bins (both CDFs cross-multiplied by the totals, so every
    * comparison is BIGINT-exact; divide once at the end for the ppm —
    * base-1000, exact while n_A·n_B < 9.2·10¹⁵). Argmax ties resolve
    * to the smallest bin. Output one row:
    * (argmax_bin, ks_scaled, ks_ppm, <aName>, <bName>).
    */
  def ksDrift(binned: DataFrame, aName: String, bName: String): DataFrame = {
    val tot = binned.agg(sum(col("_a")).as("_ta"), sum(col("_b")).as("_tb"))
    val wc = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("_ca", sum(col("_a")).over(wc))
      .withColumn("_cb", sum(col("_b")).over(wc))
      .crossJoin(broadcast(tot))
      .withColumn("_d", abs(col("_ca") * col("_tb") -
        col("_cb") * col("_ta")))
    val m = cum.agg(max(col("_d")).as("ks_scaled"))
    cum.crossJoin(broadcast(m))
      .filter(col("_d") === col("ks_scaled"))
      .agg(min(col("bin")).as("argmax_bin"),
        first(col("ks_scaled")).as("_ks"),
        first(col("_ta")).as(aName), first(col("_tb")).as(bName))
      .withColumn("ks_ppm", expr(
        s"""CAST((_ks div ($aName * $bName)) * 1000000L
           |  + ((_ks % ($aName * $bName)) * 1000L
           |      div ($aName * $bName)) * 1000L
           |  + (((_ks % ($aName * $bName)) * 1000L)
           |      % ($aName * $bName)) * 1000L
           |      div ($aName * $bName)
           |  AS BIGINT)""".stripMargin))
      .select(col("argmax_bin"), col("_ks").as("ks_scaled"),
        col("ks_ppm"), col(aName), col(bName))
  }

  /** Exact global rank (1-based) by `orderCols` WITHOUT a
    * single-partition window: the q114 two-phase device generalized to
    * an arbitrary sort key. `bucketCol` must be COARSE and ordered the
    * same direction as the leading order column (coarse-monotone:
    * bucket(x) ≤ bucket(y) whenever x sorts before y); per-bucket
    * counts become exclusive prefix offsets via a window over the
    * small bucket table, and the rank window partitions BY BUCKET —
    * bucket-parallel, one data shuffle, no task holds more than one
    * bucket's rows.
    */
  def globalRank(df: DataFrame, bucketCol: Column,
                 orderCols: Seq[Column], out: String): DataFrame = {
    val b = df.withColumn("_bk", bucketCol)
    val prefix = b.groupBy(col("_bk")).agg(count(lit(1)).as("_bn"))
      .withColumn("_off", coalesce(
        sum(col("_bn")).over(Window.orderBy(col("_bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bk"), col("_off"))
    val rk = row_number().over(
      Window.partitionBy(col("_bk")).orderBy(orderCols: _*))
    b.join(broadcast(prefix), Seq("_bk"))
      .withColumn(out, col("_off") + rk)
      .drop("_bk", "_off")
  }

  /** Integer-exact z-score outlier flag: marks rows whose BIGINT
    * `valueCol` lies more than `sigmas` POPULATION standard deviations
    * from the mean, tested without a single float as
    * `(n·x − S)² > sigmas²·(n·SS − S²)` (multiply the usual
    * `|x − μ| > σ·s` through by `n²` and square — both sides exact
    * BIGINT; S = Σx, SS = Σx²). One single-row stats aggregate
    * broadcast back (the q105 scalar shape), then a map-only flag.
    * Overflow bound: every term is exact while n·max|x| <
    * ⌊√(2⁶³−1)⌋/sigmas (the squared sides are ≤ (n·max|x|)²·sigmas²) —
    * holds to ~10⁶ rows of 10⁶-sized values at 2σ. GUARDED at runtime:
    * past the bound the job fails with a clear message instead of
    * silently wrapping and flipping flags; shift to per-stratum stats
    * (bounded n per stratum) or DECIMAL beyond.
    */
  def zscoreAnomalies(df: DataFrame, valueCol: String,
                      sigmas: Int = 2): DataFrame = {
    val stats = df.agg(count(lit(1)).as("_n"),
      sum(col(valueCol)).as("_s"),
      sum(col(valueCol) * col(valueCol)).as("_ss"),
      max(abs(col(valueCol))).as("_ma"))
    val bound = 3037000499L / sigmas // ⌊√(2⁶³−1)⌋ / sigmas
    // assert_true lives INSIDE the flag expression (a dropped guard
    // column would be pruned before it ever evaluated); it returns null
    // on success, so the CASE arm is always taken — or the job dies.
    df.crossJoin(broadcast(stats))
      .withColumn("is_anomaly", expr(
        s"CASE WHEN assert_true(_n * _ma <= ${bound}L, " +
          "'zscoreAnomalies: n*max|x| exceeds the exact-BIGINT bound; " +
          "use per-stratum stats or DECIMAL') IS NULL THEN " +
          s"CAST((_n * $valueCol - _s) * (_n * $valueCol - _s) " +
          s"> ${sigmas.toLong * sigmas}L * (_n * _ss - _s * _s) AS BIGINT) " +
          "END"))
      .drop("_n", "_s", "_ss", "_ma")
  }

  /** Trailing-N-day active users per day (the WAU/MAU curve): each
    * distinct (user, active-day) contributes to exactly `windowDays`
    * report days, so the sliding distinct-count becomes a bounded
    * explode + ONE countDistinct — never a per-day self-join, and the
    * explode factor is the window length, constant at any scale.
    * Report days are clipped to the observed max so no phantom
    * trailing days appear. */
  def trailingActiveUsers(df: DataFrame, keyCol: String, dayCol: String,
                          windowDays: Int): DataFrame = {
    val days = df.select(col(keyCol), col(dayCol).as("_d")).distinct()
    val maxDay = days.agg(max(col("_d")).as("_maxd"))
    // Scalar broadcast BEFORE the explode so the clip happens at
    // generation (`least` inside sequence) — no phantom trailing rows
    // are ever produced, and the only join is the 1-row scalar cross
    // (the q105/q142 shape, whitelisted in PlanAuditSpec).
    days.crossJoin(broadcast(maxDay))
      .select(col(keyCol),
        explode(expr(
          s"sequence(_d, least(_d + ${windowDays - 1}, _maxd))"))
          .as("report_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col(keyCol)).as("wau"))
  }

  /** Multi-touch attribution: every click in the `windowMicros` before
    * a purchase shares its conversion credit, under BOTH standard
    * models at once — LINEAR (equal split; largest-remainder with the
    * most recent click first, so each purchase's credits sum to
    * EXACTLY 10⁶ ppm) and TIME-DECAY (weight 2^-Δunits as the exact
    * integer 10⁶ div 2^Δ, floor-normalized per purchase). Last-touch
    * is [[asofJoinBackward]]; this is the other report marketing runs.
    *
    * Inputs: purchases (key, ptsm, pid), clicks (key, ctsm, cid).
    * USER-keyed equi join — never a time cross-join; the per-key
    * click×purchase fanout is bounded by the window (the q107
    * power-law-key caveat applies to a user with everything).
    * `windowMicros div decayUnitMicros` must stay < 63 or the weight
    * shift overflows (7 days / 1 day = 7 here). */
  def multiTouchAttribution(purchases: DataFrame, clicks: DataFrame,
                            keyCol: String, windowMicros: Long,
                            decayUnitMicros: Long): DataFrame = {
    val wN = Window.partitionBy(col("pid"))
    val wR = Window.partitionBy(col("pid"))
      .orderBy(col("ctsm").desc, col("cid"))
    purchases.join(clicks.withColumnRenamed(keyCol, "_ck"),
        col(keyCol) === col("_ck") && col("ctsm") <= col("ptsm") &&
          col("ptsm") - col("ctsm") <= windowMicros)
      // greatest(1, ·): a click ≥ 20 decay units old would floor to
      // weight 0; if EVERY in-window click did, Σ_wd = 0 and the
      // normalization divides by zero. Flooring at 1 keeps the weights
      // positive (ancient clicks share the residual ppm) — the window
      // still caps Δ well below the shift-overflow bound of 63 units.
      .withColumn("_wd", expr(
        "greatest(1L, 1000000L div shiftleft(1L, CAST((ptsm - ctsm) div " +
          s"${decayUnitMicros}L AS INT)))"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("_swd", sum(col("_wd")).over(wN))
      .withColumn("rk", row_number().over(wR))
      .select(col("pid"), col("cid"),
        expr("1000000L div n + IF(rk <= 1000000L % n, 1L, 0L)")
          .as("credit_ppm"),
        expr("_wd * 1000000L div _swd").as("decay_credit_ppm"))
  }

  /** Morton (Z-order) interleave of the low 16 bits of two columns:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1 — the
    * space-filling-curve clustering key (Delta OPTIMIZE ZORDER): files
    * range-partitioned on the key are clustered on BOTH dimensions at
    * once, so either predicate alone prunes ~√|files|. Pure codegen'd
    * bit arithmetic, no UDF. Inputs must be pre-masked to 16 bits. */
  def zorder16(x: Column, y: Column): Column =
    (0 until 16).map(i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
      .reduce(_ + _).cast("long")

  /** Top-k most common 3-step state paths: per-key sliding triples via
    * two lags over ONE keyed window, counted, then a deterministic
    * global rank (count desc, then path asc) over ≤|states|³ aggregated
    * rows. Output: t1, t2, t3, n_paths, rank. */
  def topPaths(df: DataFrame, keyCol: String, tsCol: String,
               tieCol: String, stateCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    df.withColumn("t2", lag(col(stateCol), 1).over(w))
      .withColumn("t1", lag(col(stateCol), 2).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col(stateCol).as("t3"))
      .agg(count(lit(1)).as("n_paths"))
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(col("n_paths").desc, col("t1"), col("t2"), col("t3"))))
      .filter(col("rank") <= k)
  }

  /** SCD Type-2 build from a change log: consecutive runs of the same
    * `valCol` per key collapse to one row carrying the half-open
    * [valid_from, valid_to) effective range; the open run is flagged
    * `is_current`. Two windows over one key+sort — a single exchange.
    * (`keyCol`, `tsCol`, `tieCol`) must totally order the log and
    * `valCol` must be non-null (null runs would silently extend the
    * preceding version — filter them upstream, as q151 does). */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String,
           tieCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("_pv", lag(col(valCol), 1).over(w))
      .filter(col("_pv").isNull || col(valCol) =!= col("_pv"))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(valCol), col(tsCol).as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.cast("long").as("is_current"))
  }

  /** Incrementally-maintained SCD2 dimension — the streaming upsert
    * half of the q151/q198 warehouse pair. One call applies one change
    * batch to a persisted index at `dir`:
    *
    *   `log/`     the FULL change log, parquet partitioned by
    *              `_bkt = pmod(hash(key), buckets)`;
    *   `history/` the [[scd2]] rows derived from it, same partitioning.
    *
    * Only the batch's TOUCHED buckets are read, re-collapsed, and
    * dynamic-partition-overwritten — per-batch cost scales with the
    * touched slice of the dimension, never the fact stream or the full
    * dimension (raise `buckets` to tighten the slice). The change log
    * is kept (not just the collapsed history) because SCD2 is not
    * incrementally recomputable from its own output under OUT-OF-ORDER
    * arrival: a late change landing inside a collapsed run must split
    * the run AND restore the run's later original value, which only the
    * raw log still knows. Replay algebra: the log upsert dedups on
    * (key, ts, tie) — the log is a SET, so at-least-once redelivery is
    * idempotent — and history = f(log), making the whole index
    * replay-safe without a batch ledger.
    */
  def upsertScd2Index(batch: DataFrame, keyCol: String, tsCol: String,
                      tieCol: String, valCol: String, dir: String,
                      buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col(keyCol), col(tsCol), col(tieCol), col(valCol))
      .withColumn("_bkt", pmod(hash(col(keyCol)), lit(buckets)))
    // ≤ `buckets` small ints — the partition-pruning probe list (the
    // ivfKnnIndexed collect shape, bounded by construction).
    val touched = b.select(col("_bkt")).distinct().collect()
      .map(_.getInt(0)).toSeq
    val logPath = s"$dir/log"
    val p = new org.apache.hadoop.fs.Path(logPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val existing =
      if (fs.exists(p) && fs.listStatus(p).nonEmpty)
        parquet(spark, logPath).filter(col("_bkt").isin(touched: _*))
      else b.limit(0)
    val mergedLog = graft.Checkpoints.cutEager(
      existing.unionByName(b).dropDuplicates(keyCol, tsCol, tieCol))
    ShardStore.overwritePartitions(mergedLog, logPath, Seq("_bkt"))
    val hist = scd2(mergedLog, keyCol, tsCol, tieCol, valCol)
      .withColumn("_bkt", pmod(hash(col(keyCol)), lit(buckets)))
    ShardStore.overwritePartitions(hist, s"$dir/history", Seq("_bkt"))
  }

  /** The maintained SCD2 dimension (same relation as [[scd2]] over the
    * full log) — feeds the q198 [[pitJoin]] directly. */
  def readScd2Index(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    parquet(spark, s"$dir/history").drop("_bkt")

  /** Theil–Sen robust trend estimator over an ordered integer series
    * (day, value): the MEDIAN of all pairwise slopes — outlier days
    * move the estimate by at most their rank, unlike least squares
    * where one spike drags the line. The series is a bounded reporting
    * table (|days| rows → |days|²/2 pairs — hundreds, never
    * corpus-sized), so the pair enumeration is a self-join of a tiny
    * aggregate and the median a row_number pick, all after ONE daily
    * rollup of the corpus.
    *
    * Integer discipline: slope_ppm divides with TRUNCATION toward zero
    * — the NATIVE integer-division semantic of BOTH engines (Spark
    * `div` and DuckDB's integer `//` truncate; DuckDB floors only on
    * floats — verified empirically on negative slopes, q201's gate).
    * Median = the ⌈n_pairs/2⌉-th slope ordered by (slope_ppm, i, j) —
    * deterministic including ties; even counts take the lower middle.
    */
  def theilSen(daily: DataFrame, dayCol: String,
               valueCol: String): DataFrame = {
    val d = daily.select(col(dayCol).as("_d"), col(valueCol).as("_x"))
    val pairs = d.as("a").join(d.as("b"), col("a._d") < col("b._d"))
      .select(col("a._d").as("_i"), col("b._d").as("_j"),
        (col("b._x") - col("a._x")).as("_dy"),
        (col("b._d") - col("a._d")).as("_dx"))
      .withColumn("slope_ppm", expr("_dy * 1000000L div _dx"))
    val w = Window.orderBy(col("slope_ppm"), col("_i"), col("_j"))
    pairs.withColumn("_rn", row_number().over(w))
      .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
      .filter(expr("_rn = (n_pairs + 1) div 2"))
      .select(col("n_pairs"), col("slope_ppm").as("trend_slope_ppm"))
  }

  /** Exact-integer ordinary-least-squares slope over the same bounded
    * (day, value) series [[theilSen]] robustifies: slope = (n·Σxy −
    * Σx·Σy) / (n·Σx² − (Σx)²), numerator and denominator both exact
    * BIGINT from ONE aggregation, emitted as truncating-ppm (both
    * engines' native integer division — see [[theilSen]]'s division
    * note) plus the raw fraction so callers can re-derive without
    * rounding. Degenerate
    * single-day series (den = 0) yields a null slope rather than a
    * division error. */
  def olsTrend(daily: DataFrame, dayCol: String,
               valueCol: String): DataFrame =
    daily.agg(count(lit(1)).as("n_days"),
        sum(col(dayCol)).as("_sx"),
        sum(col(valueCol)).as("_sy"),
        sum(col(dayCol) * col(valueCol)).as("_sxy"),
        sum(col(dayCol) * col(dayCol)).as("_sxx"))
      .withColumn("slope_num", expr("n_days * _sxy - _sx * _sy"))
      .withColumn("slope_den", expr("n_days * _sxx - _sx * _sx"))
      .withColumn("ols_slope_ppm", expr(
        "CASE WHEN slope_den = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE slope_num * 1000000L div slope_den END"))
      .select(col("n_days"), col("slope_num"), col("slope_den"),
        col("ols_slope_ppm"))

  /** Mann–Kendall trend TEST over the bounded (day, value) series: the
    * S statistic = Σ sign(x_j − x_i) over all i<j pairs — a
    * distribution-free "is there a monotone trend" answer that pairs
    * with [[theilSen]]'s "how steep" (same |days|²/2 pair table).
    * Integer-exact: S, the pair count, and the tie count; consumers
    * apply their own significance threshold. */
  def mannKendall(daily: DataFrame, dayCol: String,
                  valueCol: String): DataFrame = {
    val d = daily.select(col(dayCol).as("_d"), col(valueCol).as("_x"))
    d.as("a").join(d.as("b"), col("a._d") < col("b._d"))
      .agg(sum(signum(col("b._x") - col("a._x")).cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("b._x") === col("a._x"), 1L).otherwise(0L))
          .as("n_ties"))
  }

  /** Point-in-time join of facts against an SCD2 dimension ([[scd2]]'s
    * (key, value, valid_from, valid_to, is_current) shape): each fact
    * row picks the dimension VERSION valid at its timestamp
    * (`valid_from ≤ ts < valid_to`, open-ended current version), left —
    * facts before the key's first version keep nulls. The join is an
    * EQUI join on the key with the interval check as a residual
    * condition (versions per key are few and disjoint, so at most one
    * match and no blow-up) — never a nested-loop, at any fact count.
    * Output: every fact column, then the dimension's non-bookkeeping
    * columns. */
  def pitJoin(facts: DataFrame, dim: DataFrame, keyCol: String,
              tsCol: String): DataFrame = {
    val f = facts.as("f"); val d = dim.as("d")
    val bookkeeping = Set(keyCol, "valid_from", "valid_to", "is_current")
    f.join(d, col(s"f.$keyCol") === col(s"d.$keyCol") &&
        col("d.valid_from") <= col(s"f.$tsCol") &&
        (col("d.valid_to").isNull || col(s"f.$tsCol") < col("d.valid_to")),
      "left")
      .select(facts.columns.map(c => col(s"f.$c")).toIndexedSeq ++
        dim.columns.filterNot(bookkeeping).map(c => col(s"d.$c")): _*)
  }

  /** Gaps-and-islands: runs of consecutive integer `dayCol` values per
    * key (the activity-streak report). The day − row_number island id
    * turns each run into one group key; the groupBy runs over
    * |key-days| distinct rows, never the raw events. */
  def activityStreaks(df: DataFrame, keyCol: String,
                      dayCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_d"))
    df.select(col(keyCol), col(dayCol).as("_d")).distinct()
      .withColumn("_rn", row_number().over(w))
      .groupBy(col(keyCol), (col("_d") - col("_rn")).as("_island"))
      .agg(min(col("_d")).as("streak_start_day"),
        count(lit(1)).as("streak_days"))
      .select(col(keyCol), col("streak_start_day"), col("streak_days"))
  }

  /** Snapshot reconciliation: classify every key of two table versions
    * as added / removed / changed (unchanged rows are dropped, so the
    * output is |changes|). One key-partitioned full-outer join; the
    * column compares run inside the join's codegen. Output columns:
    * keyCol, diff_class, then cur_/prior_ pairs of `compareCols`.
    * Null-vs-value column differences count as changed; compared
    * columns must not BOTH be null-meaningful and compared (null <>
    * null is null → treated as equal). */
  def snapshotDiff(cur: DataFrame, prior: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    val c = cur.as("c"); val p = prior.as("p")
    val changed = compareCols.map { cc =>
      val l = col(s"c.$cc"); val r = col(s"p.$cc")
      l =!= r || (l.isNull && r.isNotNull) || (l.isNotNull && r.isNull)
    }.reduce(_ || _)
    c.join(p, col(s"c.$keyCol") === col(s"p.$keyCol"), "full_outer")
      .withColumn("diff_class",
        when(col(s"p.$keyCol").isNull, "added")
          .when(col(s"c.$keyCol").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("diff_class").isNotNull)
      .select((coalesce(col(s"c.$keyCol"), col(s"p.$keyCol"))
        .as(keyCol) +: col("diff_class") +:
        compareCols.flatMap(cc => Seq(col(s"c.$cc").as(s"cur_$cc"),
          col(s"p.$cc").as(s"prior_$cc")))): _*)
  }

  /** First-order Markov transition matrix: per-key consecutive
    * (prev, next) state pairs via one keyed window, counted, with the
    * row-normalized transition probability in exact ppm (BIGINT div).
    * The normalizing window runs over ≤|states|² aggregated rows. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    df.withColumn("prev_type", lag(col(stateCol), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col(stateCol))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("_tot",
        sum(col("n_trans")).over(Window.partitionBy(col("prev_type"))))
      .withColumn("p_ppm", expr("n_trans * 1000000L div _tot"))
      .drop("_tot")
  }

  /** The q131 five-metric journey over a (user_id, tsm, event_type,
    * cents) frame — factored so the streaming twin's equality test and
    * the gated query share one definition. ONE keyed shuffle; every
    * metric a row-local fold/array function over the same sorted array.
    */
  def userJourney(events: DataFrame): DataFrame = {
    val df = events
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("tsm"), col("event_type"), col("cents")))).as("_evs"))
      .withColumn("_minp", array_min(transform(
        filter(col("_evs"), e => e.getField("event_type") === "purchase"),
        e => e.getField("tsm"))))
    df.select(col("user_id"),
      size(col("_evs")).cast("long").as("n_events"),
      expr("""aggregate(_evs,
        |  named_struct('p', CAST(NULL AS LONG), 'n', 0L),
        |  (a, x) -> named_struct('p', x.tsm,
        |    'n', a.n + CASE WHEN a.p IS NULL
        |      OR x.tsm - a.p > 1800000000L THEN 1L ELSE 0L END),
        |  a -> a.n)""".stripMargin).as("n_sessions"),
      expr(funnelFoldExpr()).as("funnel_stage"),
      expr("""aggregate(_evs,
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
        |  a -> a.c)""".stripMargin).as("conversions"),
      expr("""aggregate(
        |  slice(transform(_evs, e -> e.cents), 2, size(_evs) - 1),
        |  _evs[0].cents,
        |  (a, x) -> (900000L * a + 100000L * x) div 1000000L)"""
        .stripMargin).as("ewma_cents"),
      size(filter(col("_evs"), e =>
        e.getField("event_type") === "click" &&
          col("_minp").isNotNull && e.getField("tsm") >= col("_minp")))
        .cast("long").as("attributed_clicks"))
  }

  /** q123's funnel fold over a `_evs` column of sorted
    * (tsm, event_type) structs: the stage reached by
    * view→click→purchase with a per-step window of `gapMicros` and a
    * strict-`>` advance. Shared by the gated query, the spec's inline
    * cases, and the streaming twin's equality test
    * ([[graft.streaming.EventsStream.funnelStream]]).
    */
  def funnelFoldExpr(gapMicros: Long = 86400000000L): String =
    s"""aggregate(_evs,
       |  named_struct('s', 0L, 't', CAST(NULL AS LONG)),
       |  (a, x) -> CASE
       |    WHEN a.s = 0 AND x.event_type = 'view'
       |      THEN named_struct('s', 1L, 't', x.tsm)
       |    WHEN a.s = 1 AND x.event_type = 'click' AND x.tsm > a.t
       |        AND x.tsm - a.t <= ${gapMicros}L
       |      THEN named_struct('s', 2L, 't', x.tsm)
       |    WHEN a.s = 2 AND x.event_type = 'purchase' AND x.tsm > a.t
       |        AND x.tsm - a.t <= ${gapMicros}L
       |      THEN named_struct('s', 3L, 't', x.tsm)
       |    ELSE a END,
       |  a -> a.s)""".stripMargin

  /** AS-OF join, FORWARD direction: every left row gets the `valCol` of
    * the EARLIEST right row with the same key and ts >= left ts (equal
    * ts included — ASOF `<=` semantics, matching DuckDB). The mirror of
    * [[asofJoinBackward]] — "next purchase after this click" instead of
    * "last purchase before it" — with the same one-union one-keyed-window
    * scale shape and the mirrored determinism rules: at equal ts the
    * left row sorts BEFORE right rows (so an equal-ts right row is
    * inside its forward frame), duplicate right rows at the same
    * (key, ts) resolve to the GREATEST value (descending tie sort, so
    * `first` lands on it regardless of input order; nulls sort last and
    * lose to any non-null tie), and a matched right row whose `valCol`
    * is null still counts and yields null via the struct marker.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keyCol: String,
                      tsCol: String, valCol: String, outCol: String,
                      matchTsCol: Option[String] = None): DataFrame = {
    val vType = right.select(col(valCol)).schema.head.dataType
    val tType = right.select(col(tsCol)).schema.head.dataType
    val sType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_v", vType),
      org.apache.spark.sql.types.StructField("_t", tType)))
    val l = left.withColumn("_isL", lit(1))
      .withColumn("_rs", lit(null).cast(sType))
    // Null-ts right rows match nothing (same contract as the backward
    // form — here nulls-first ordering happens to exclude them from
    // every forward frame anyway, but the filter keeps the invariant
    // explicit rather than an ordering accident).
    val r = right.filter(col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol), lit(0).as("_isL"),
        struct(col(valCol).as("_v"), col(tsCol).as("_t")).as("_rs"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("_isL").desc,
        col("_rs._v").desc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val matched = l.unionByName(r, allowMissingColumns = true)
      .withColumn("_m", first(col("_rs"), ignoreNulls = true).over(w))
      .filter(col("_isL") === 1)
      .withColumn(outCol, col("_m._v"))
    matchTsCol.fold(matched)(c => matched.withColumn(c, col("_m._t")))
      .drop("_isL", "_rs", "_m")
  }

  /** q122's edge list: the customer→supplier→nation→customer trade
    * graph, endpoints prefixed (`c`/`s`/`n`) so the three key spaces
    * stay disjoint. Shared with ScaleProbe's pagerank replica.
    * `customerFilter = Some(k)` keeps every k-th customer (q127's
    * subgraph gate); suppliers and nations are never filtered.
    */
  def tradeGraphEdges(s: SparkSession, dir: String,
                      customerFilter: Option[Long] = None): DataFrame = {
    import s.implicits._
    def keep(c: org.apache.spark.sql.Column) =
      customerFilter.map(k => c % k === 0L).getOrElse(lit(true))
    // Dedup the customer→supplier pairs NUMERICALLY before minting the
    // string ids (guide §2.3: the exchange carries two BIGINTs with
    // map-side partial aggregation instead of ~600k freshly-built
    // strings, and concat then runs on the ~0.2× distinct survivors
    // only). Every consumer (pageRank/labelProp/bfs) applies its own
    // set-semantics dedup downstream, so the edge SET is unchanged.
    val co = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      .filter(keep($"o_custkey"))
      .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey", $"l_suppkey").agg(count(lit(1)).as("_n"))
      .select(concat(lit("c"), $"o_custkey").as("src"),
        concat(lit("s"), $"l_suppkey").as("dst"))
    val sn = t(s, dir, "supplier")
      .select(concat(lit("s"), $"s_suppkey").as("src"),
        concat(lit("n"), $"s_nationkey").as("dst"))
    val nc = t(s, dir, "customer").filter(keep($"c_custkey"))
      .select(concat(lit("n"), $"c_nationkey").as("src"),
        concat(lit("c"), $"c_custkey").as("dst"))
    co.union(sn).union(nc)
  }

  /** [[tradeGraphEdges]] with deterministic integer weights derived from
    * the numeric keys BEFORE prefixing (so DuckDB rebuilds them exactly):
    * c→s costs (custkey+suppkey)%9+1, s→n costs suppkey%5+1, n→c costs
    * custkey%7+1. */
  def tradeGraphEdgesWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Same numeric-first dedup discipline as [[tradeGraphEdges]] (guide
    // §2.3): the c→s pairs group on the two BIGINT keys — map-side
    // partial aggregation over fixed-width rows — and the strings mint
    // on the distinct survivors only. The weight is a pure function of
    // the keys, so per-pair dedup loses nothing. The old trailing
    // `.distinct()` over the union is dropped outright: co is distinct
    // by construction here, sn/nc are keyed by the unique
    // supplier/customer table keys, and the three prefixes make the
    // subsets disjoint — the union IS the distinct edge set.
    val co = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      .join(t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey", $"l_suppkey").agg(count(lit(1)).as("_n"))
      .select(concat(lit("c"), $"o_custkey").as("src"),
        concat(lit("s"), $"l_suppkey").as("dst"),
        (($"o_custkey" + $"l_suppkey") % 9 + 1).cast("long").as("w"))
    val sn = t(s, dir, "supplier")
      .select(concat(lit("s"), $"s_suppkey").as("src"),
        concat(lit("n"), $"s_nationkey").as("dst"),
        ($"s_suppkey" % 5 + 1).cast("long").as("w"))
    val nc = t(s, dir, "customer")
      .select(concat(lit("n"), $"c_nationkey").as("src"),
        concat(lit("c"), $"c_custkey").as("dst"),
        ($"c_custkey" % 7 + 1).cast("long").as("w"))
    co.union(sn).union(nc)
  }

  /** Interval range join without an equi key, by time-bucketing: left
    * rows (point timestamps) against right rows (intervals
    * `[startCol, endCol)`), LEFT OUTER from the interval side so empty
    * intervals survive. Spark compiles a bare
    * `ON ts >= s AND ts < e` to a BroadcastNestedLoopJoin — O(|L|·|R|)
    * and a driver OOM once neither side is broadcast-sized. This is the
    * standard bucketed form instead: every interval is exploded to the
    * fixed-width buckets it covers (`sequence(s div b, (e-1) div b)` —
    * end-exclusive), points key to their single bucket, and the join is
    * an EQUI join on bucket with the exact range check as a residual
    * condition. A point lies in exactly one bucket, so no dedup is
    * needed; an interval of width w produces ceil(w/b)+1 rows — pick
    * `bucketMicros` near the typical interval width so the blow-up is
    * ~2×. Cost: one keyed shuffle of (exploded intervals + points),
    * exactly how a 100 TB range join should run on a cluster; skewed
    * buckets (everything in one hour) are AQE's skew-join case, same as
    * any hot key.
    *
    * Returns one row per (interval × contained point), plus one
    * null-point row per UNCOVERED (interval, bucket) pair — an interval
    * spanning B buckets contributes up to B null rows even when other
    * buckets matched, and an empty interval contributes B of them (not
    * one). Downstream aggregation MUST therefore be null-skipping on
    * the point side — `count(ptsCol)`, `collect_list`, `sum` — never
    * `count(*)`; collapsing the null rows to one-per-empty-interval
    * would cost an extra interval-keyed shuffle this operator
    * deliberately avoids (q121 aggregates with count(ptsm)/first, the
    * intended pattern). Left columns must not collide with
    * right columns; `tsCol` must be epoch-micros LONG, as must
    * `startCol`/`endCol`, with `endCol > startCol` on every row (an
    * empty interval makes the bucket `sequence` step backwards and
    * fails at runtime — filter degenerate intervals out first).
    */
  def rangeJoinByBucket(points: DataFrame, tsCol: String,
                        intervals: DataFrame, startCol: String,
                        endCol: String, bucketMicros: Long): DataFrame = {
    val iv = intervals.withColumn("_bkt",
      explode(sequence(col(startCol) - (col(startCol) % bucketMicros),
        col(endCol) - lit(1L) - ((col(endCol) - 1L) % bucketMicros),
        lit(bucketMicros))))
    val pts = points.withColumn("_bkt",
      col(tsCol) - (col(tsCol) % bucketMicros))
    iv.join(pts,
        iv("_bkt") === pts("_bkt") &&
          pts(tsCol) >= iv(startCol) && pts(tsCol) < iv(endCol),
        "left")
      .drop("_bkt")
  }

  /** AS-OF join, backward direction: every left row gets the `valCol` of
    * the LATEST right row with the same key and ts <= left ts (ties
    * include the equal-ts right row — ASOF `>=` semantics, matching
    * DuckDB/kdb). Spark has no native as-of operator; the naive
    * join-then-filter compiles to a per-key range CROSS join. This is the
    * relational O(n log n) form instead: tag both sides, union, ONE keyed
    * window carrying the last non-null right value forward in time —
    * a single shuffle/sort over both inputs, partitioned by key, which is
    * exactly how it scales on a cluster (no broadcast, no range
    * explosion). Right rows sort before left rows at equal ts. Duplicate
    * right rows at the same (key, ts) resolve deterministically: `_rv` is
    * the final sort key, so the GREATEST value wins regardless of input
    * partitioning or order (nulls sort first, so a null-valued tie row
    * loses to any non-null one). A right row whose `valCol` is null still
    * COUNTS as the latest match and yields null — ASOF semantics, same as
    * DuckDB and [[graft.streaming.EventsStream.attributeStream]]: the
    * carried marker is a non-null struct wrapping the (possibly null)
    * value, so `last(ignoreNulls)` skips left rows but never a matched
    * right row.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keyCol: String,
                      tsCol: String, valCol: String, outCol: String,
                      matchTsCol: Option[String] = None): DataFrame = {
    val vType = right.select(col(valCol)).schema.head.dataType
    val tType = right.select(col(tsCol)).schema.head.dataType
    val sType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_v", vType),
      org.apache.spark.sql.types.StructField("_t", tType)))
    val l = left.withColumn("_isL", lit(1))
      .withColumn("_rs", lit(null).cast(sType))
    // A null-ts right row is "at or before" NOTHING (the ASOF oracle's
    // `l.ts >= r.ts` never matches it), but nulls-first window order
    // would put it inside every frame — drop it here, matching
    // attributeStream's explicit filter, so all four as-of variants
    // built on this union agree with the oracle on null timestamps.
    val r = right.filter(col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol), lit(0).as("_isL"),
        struct(col(valCol).as("_v"), col(tsCol).as("_t")).as("_rs"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("_isL").asc,
        col("_rs._v").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r, allowMissingColumns = true)
      .withColumn("_m", last(col("_rs"), ignoreNulls = true).over(w))
      .filter(col("_isL") === 1)
      .withColumn(outCol, col("_m._v"))
    matchTsCol.fold(matched)(c => matched.withColumn(c, col("_m._t")))
      .drop("_isL", "_rs", "_m")
  }

  /** AS-OF backward with a STALENESS TOLERANCE (pandas merge_asof's
    * `tolerance`, kdb's within-window asof): a match older than
    * `toleranceMicros` is discarded — attribution to a purchase from
    * three months ago is usually a bug, not a signal. Same plan as
    * [[asofJoinBackward]] plus a map-only staleness gate. */
  def asofJoinBackwardTolerance(left: DataFrame, right: DataFrame,
                                keyCol: String, tsCol: String,
                                valCol: String, outCol: String,
                                toleranceMicros: Long): DataFrame =
    asofJoinBackward(left, right, keyCol, tsCol, valCol, outCol,
      matchTsCol = Some("_mt"))
      .withColumn(outCol,
        when(col("_mt").isNotNull &&
          col(tsCol) - col("_mt") <= toleranceMicros, col(outCol)))
      .drop("_mt")

  /** AS-OF nearest (pandas merge_asof `direction='nearest'`): the
    * closer of the backward and forward matches, ties to BACKWARD.
    * Two keyed windows (one per direction) over the same union shape —
    * still no range explosion, still key-partitioned. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keyCol: String,
                      tsCol: String, valCol: String,
                      outCol: String): DataFrame = {
    val b = asofJoinBackward(left, right, keyCol, tsCol, valCol, "_bv",
      matchTsCol = Some("_bt"))
    val f = asofJoinForward(b, right, keyCol, tsCol, valCol, "_fv",
      matchTsCol = Some("_ft"))
    f.withColumn(outCol,
        when(col("_bt").isNull, col("_fv"))
          .when(col("_ft").isNull, col("_bv"))
          .when(col(tsCol) - col("_bt") <= col("_ft") - col(tsCol),
            col("_bv"))
          .otherwise(col("_fv")))
      .drop("_bv", "_bt", "_fv", "_ft")
  }

  val oracles: Map[String, String] = Map(
    "q01_agg_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1999-01-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 450000.0 AND o_orderstatus = 'O'""".stripMargin,
    "q03_join_agg_regional_revenue" ->
      s"""SELECT n_name, ${dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,
    "q04_anti_join_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,
    "q05_semi_join_open_orders" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q06_left_outer_order_counts" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin,
    "q07_values_join" ->
      """SELECT p_partkey, p_brand, p_size, min_size
        |FROM part JOIN (VALUES ('Brand#13', 10), ('Brand#20', 25), ('Brand#7', 40)) AS v(brand, min_size)
        |ON p_brand = v.brand AND p_size >= v.min_size""".stripMargin,
    "q08_count_distinct_having" ->
      """SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(DISTINCT o_orderpriority) >= 5""".stripMargin,
    "q09_concat_agg_nations" ->
      """SELECT r_name, string_agg(n_name, ' ' ORDER BY n_name) AS nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name""".stripMargin,
    "q10_window_top_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q11_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment AS segment FROM customer",
    "q12_union_big_accounts" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9900.0
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 490000.0""".stripMargin,
    "q13_events_hourly" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
         |  COUNT(*) AS n_events, ${dsumSql("value", 4)} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q48_sessionize_batch" ->
      s"""WITH g AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (
         |  SELECT user_id, ts, value,
         |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts)
         |      AS BIGINT) AS session_no
         |  FROM g)
         |SELECT user_id, session_no,
         |  CAST(min(ts) AS TIMESTAMP) AS session_start,
         |  COUNT(*) AS n_events, ${dsumSql("value", 4)} AS sum_value
         |FROM s GROUP BY 1, 2""".stripMargin,
    "q106_asof_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsm, p.k AS last_purchase_k
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsm >= p.tsm""".stripMargin,
    // q107 computes the identical relation through the timeline form;
    // the oracle is q106's ASOF join verbatim.
    "q107_asof_timeline" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsm, p.k AS last_purchase_k
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsm >= p.tsm""".stripMargin,
    // q108 is q107 with the forced shuffle-join fallback — same relation,
    // same oracle.
    "q108_asof_timeline_shuffle" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsm, p.k AS last_purchase_k
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsm >= p.tsm""".stripMargin,
    // q188 is q107 with the hot-key-safe chunked timeline — same
    // relation, same oracle.
    "q188_asof_timeline_chunked" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsm, p.k AS last_purchase_k
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsm >= p.tsm""".stripMargin,
    "q104_moving_window" ->
      """WITH hourly AS (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    event_type, COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n_events,
        |  CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_3h
        |FROM hourly""".stripMargin,
    "q103_json_props" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
        |    AS distinct_k
        |FROM events GROUP BY 1""".stripMargin,
    "q102_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |  COALESCE(l_linestatus, 'ALL') AS ls,
         |  COUNT(*) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q99_session_spectrum" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS BIGINT) AS session_no
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_no, COUNT(*) AS n FROM s GROUP BY 1, 2)
        |SELECT length(bin(n)) - 1 AS bucket, count(*) AS n_sessions,
        |  CAST(SUM(n) AS BIGINT) AS n_events
        |FROM sess GROUP BY 1""".stripMargin,

    // q127: the same degree-oriented wedge chain in SQL — row-value
    // comparisons ((d, id) tuples) express the rank order on both
    // engines identically.
    "q127_triangles" ->
      """WITH co AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey % 10 = 0),
        |sn AS (
        |  SELECT DISTINCT 's' || s_suppkey AS src, 'n' || s_nationkey AS dst
        |  FROM supplier),
        |nc AS (
        |  SELECT DISTINCT 'n' || c_nationkey AS src, 'c' || c_custkey AS dst
        |  FROM customer WHERE c_custkey % 10 = 0),
        |edges AS (
        |  SELECT src, dst FROM co UNION ALL SELECT src, dst FROM sn
        |  UNION ALL SELECT src, dst FROM nc),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges WHERE src <> dst),
        |deg AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1),
        |orient AS (
        |  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS u,
        |    CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS v,
        |    CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS dv
        |  FROM und u
        |  JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
        |wed AS (
        |  SELECT e1.u, e1.v, e2.v AS w
        |  FROM orient e1 JOIN orient e2 ON e1.u = e2.u
        |  WHERE (e1.dv, e1.v) < (e2.dv, e2.v)),
        |tri AS (
        |  SELECT wed.u, wed.v, wed.w FROM wed
        |  WHERE EXISTS (
        |    SELECT 1 FROM orient o WHERE o.u = wed.v AND o.v = wed.w))
        |SELECT node, count(*) AS n_triangles FROM (
        |  SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri)
        |GROUP BY 1""".stripMargin,

    // q131: the five per-user metrics assembled from their proven
    // oracle chains (q48 window sessions, q123 min-chain stage, q130
    // packed fold, q129 list_reduce EWMA, an EXISTS for attribution)
    // joined on user_id — the oracle can afford five passes; the Spark
    // side is the one-shuffle fusion.
    "q131_user_journey" -> {
      val G = 86400000000L
      val S = 2251799813685248L // 2^51
      val C = 9007199254740992L // 2^53
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS tsm, event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events),
         |u AS (SELECT user_id, count(*) AS n_events FROM ev GROUP BY 1),
         |g AS (
         |  SELECT user_id,
         |    CASE WHEN lag(tsm) OVER w IS NULL
         |      OR tsm - lag(tsm) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsm)),
         |ses AS (
         |  SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions
         |  FROM g GROUP BY 1),
         |v AS (SELECT user_id, min(tsm) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(e.tsm) AS t2 FROM ev e
         |  JOIN v ON e.user_id = v.user_id AND e.tsm > v.t1
         |    AND e.tsm - v.t1 <= $G
         |  WHERE e.event_type = 'click' GROUP BY 1),
         |p AS (SELECT e.user_id, min(e.tsm) AS t3 FROM ev e
         |  JOIN c ON e.user_id = c.user_id AND e.tsm > c.t2
         |    AND e.tsm - c.t2 <= $G
         |  WHERE e.event_type = 'purchase' GROUP BY 1),
         |stg AS (
         |  SELECT u.user_id,
         |    CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
         |      WHEN c.user_id IS NOT NULL THEN 2
         |      WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |      AS funnel_stage
         |  FROM u LEFT JOIN v ON u.user_id = v.user_id
         |  LEFT JOIN c ON u.user_id = c.user_id
         |  LEFT JOIN p ON u.user_id = p.user_id),
         |conv AS (
         |  SELECT user_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list(tsm * 4 + CASE event_type WHEN 'view' THEN 1
         |          WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END
         |          ORDER BY tsm, event_type)),
         |      (a, b) -> CASE
         |        WHEN (a // $S) % 4 = 0 AND b % 4 = 1
         |          THEN (a // $C) * $C + 1 * $S + (b // 4)
         |        WHEN (a // $S) % 4 = 1 AND b % 4 = 2 AND (b // 4) > a % $S
         |            AND (b // 4) - (a % $S) <= $G
         |          THEN (a // $C) * $C + 2 * $S + (b // 4)
         |        WHEN (a // $S) % 4 = 2 AND b % 4 = 3 AND (b // 4) > a % $S
         |            AND (b // 4) - (a % $S) <= $G
         |          THEN ((a // $C) + 1) * $C
         |        ELSE a END) // $C AS conversions
         |  FROM ev GROUP BY 1),
         |ew AS (
         |  SELECT user_id,
         |    list_reduce(list(cents ORDER BY tsm, event_type, cents),
         |      (a, b) -> (900000 * a + 100000 * b) // 1000000) AS ewma_cents
         |  FROM ev GROUP BY 1),
         |att AS (
         |  SELECT e.user_id, count(*) AS n FROM ev e
         |  WHERE e.event_type = 'click' AND EXISTS (
         |    SELECT 1 FROM ev p2 WHERE p2.user_id = e.user_id
         |      AND p2.event_type = 'purchase' AND p2.tsm <= e.tsm)
         |  GROUP BY 1)
         |SELECT u.user_id, u.n_events, ses.n_sessions, stg.funnel_stage,
         |  conv.conversions, ew.ewma_cents,
         |  COALESCE(att.n, 0) AS attributed_clicks
         |FROM u
         |JOIN ses ON u.user_id = ses.user_id
         |JOIN stg ON u.user_id = stg.user_id
         |JOIN conv ON u.user_id = conv.user_id
         |JOIN ew ON u.user_id = ew.user_id
         |LEFT JOIN att ON u.user_id = att.user_id""".stripMargin
    },

    // q130: list_reduce is a NO-INIT binary fold whose accumulator must
    // share the element type, so both events and the (count, stage,
    // lastTs) state pack into one BIGINT: event = tsm·4 + code
    // (view=1, click=2, purchase=3, other=0); state = count·2⁵³ +
    // stage·2⁵¹ + lastTs (µs epoch < 2⁵¹ until 2041). A prepended 0 is
    // the initial state; the lambda unpacks with div/mod — identical
    // recurrence, different encoding, same counts.
    "q130_conversion_cycles" -> {
      val G = 86400000000L
      val S = 2251799813685248L // 2^51
      val C = 9007199254740992L // 2^53
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS tsm, event_type,
         |    epoch_us(ts) * 4 + CASE event_type WHEN 'view' THEN 1
         |      WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END AS e
         |  FROM events),
         |arr AS (
         |  SELECT user_id,
         |    list_prepend(CAST(0 AS BIGINT),
         |      list(e ORDER BY tsm, event_type)) AS xs
         |  FROM ev GROUP BY 1),
         |folded AS (
         |  SELECT user_id,
         |    list_reduce(xs, (a, b) -> CASE
         |      WHEN (a // $S) % 4 = 0 AND b % 4 = 1
         |        THEN (a // $C) * $C + 1 * $S + (b // 4)
         |      WHEN (a // $S) % 4 = 1 AND b % 4 = 2 AND (b // 4) > a % $S
         |          AND (b // 4) - (a % $S) <= $G
         |        THEN (a // $C) * $C + 2 * $S + (b // 4)
         |      WHEN (a // $S) % 4 = 2 AND b % 4 = 3 AND (b // 4) > a % $S
         |          AND (b // 4) - (a % $S) <= $G
         |        THEN ((a // $C) + 1) * $C
         |      ELSE a END) AS st
         |  FROM arr)
         |SELECT st // $C AS conversions, count(*) AS n_users
         |FROM folded GROUP BY 1""".stripMargin
    },

    // q129: the same ppm fold through DuckDB's list_reduce (no-init
    // binary fold — the first element IS the init, matching the Spark
    // slice+head form).
    "q129_ewma_score" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |arr AS (
        |  SELECT user_id, list(cents ORDER BY tsm, cents) AS xs,
        |    count(*) AS n_events
        |  FROM ev GROUP BY 1)
        |SELECT user_id, n_events,
        |  list_reduce(xs,
        |    (a, b) -> (900000 * a + 100000 * b) // 1000000) AS ewma_cents
        |FROM arr""".stripMargin,

    // q128: the three LPA rounds unrolled — per round one neighbor-label
    // count and a (cnt DESC, label ASC) argmax, exactly the Spark
    // window.
    "q128_label_propagation" -> {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (
           |  SELECT node, label FROM (
           |    SELECT b.u AS node, l.label, count(*) AS cnt
           |    FROM bi b JOIN l${i - 1} l ON l.node = b.v
           |    GROUP BY 1, 2)
           |  QUALIFY ROW_NUMBER() OVER (
           |    PARTITION BY node ORDER BY cnt DESC, label ASC) = 1)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH co AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey % 10 = 0),
         |sn AS (
         |  SELECT DISTINCT 's' || s_suppkey AS src, 'n' || s_nationkey AS dst
         |  FROM supplier),
         |nc AS (
         |  SELECT DISTINCT 'n' || c_nationkey AS src, 'c' || c_custkey AS dst
         |  FROM customer WHERE c_custkey % 10 = 0),
         |edges AS (
         |  SELECT src, dst FROM co UNION ALL SELECT src, dst FROM sn
         |  UNION ALL SELECT src, dst FROM nc),
         |bi AS (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT src AS u, dst AS v FROM edges WHERE src <> dst
         |    UNION ALL
         |    SELECT dst AS u, src AS v FROM edges WHERE src <> dst)),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM bi),
         |$rounds
         |SELECT node, label FROM l3""".stripMargin
    },

    // q125: DuckDB's native forward ASOF (`<=` picks the earliest
    // at-or-after right row).
    "q125_asof_forward" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsm, p.k AS next_purchase_k
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsm <= p.tsm""".stripMargin,

    // q121: the same relation through DuckDB's native inequality join —
    // the oracle can afford the O(|L|·|R|) form the Spark side exists to
    // avoid.
    "q121_range_join_hot_windows" ->
      s"""WITH win AS (
         |  SELECT event_type AS wtype, count(*) AS n_window_events,
         |    epoch_us(date_trunc('hour', ts)) + 300000000 AS ws,
         |    epoch_us(date_trunc('hour', ts)) + 3000000000 AS we
         |  FROM events WHERE event_type <> 'purchase'
         |  GROUP BY 1, 3, 4 HAVING count(*) >= 7),
         |p AS (
         |  SELECT epoch_us(ts) AS ptsm, value FROM events
         |  WHERE event_type = 'purchase')
         |SELECT wtype, make_timestamp(ws) AS window_start,
         |  MIN(n_window_events) AS n_window_events,
         |  COUNT(p.ptsm) AS n_purchases,
         |  COALESCE(${dsumSql("p.value", 4)}, 0) AS purchase_value
         |FROM win LEFT JOIN p ON p.ptsm >= win.ws AND p.ptsm < win.we
         |GROUP BY 1, 2""".stripMargin,

    // q122: the 5 PageRank iterations unrolled as chained CTEs — all
    // BIGINT ppb arithmetic (`//` = floor division), bit-identical to
    // the Spark loop by construction.
    "q122_pagerank" -> {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT n.node,
           |    CAST(150000000 + (85 * COALESCE(SUM(p.r // deg.d), 0)) // 100
           |      AS BIGINT) AS r
           |  FROM nodes n
           |  LEFT JOIN edges e ON e.dst = n.node
           |  LEFT JOIN deg ON deg.src = e.src
           |  LEFT JOIN r${i - 1} p ON p.node = e.src
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH co AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |sn AS (
         |  SELECT DISTINCT 's' || s_suppkey AS src, 'n' || s_nationkey AS dst
         |  FROM supplier),
         |nc AS (
         |  SELECT DISTINCT 'n' || c_nationkey AS src, 'c' || c_custkey AS dst
         |  FROM customer),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT * FROM co UNION ALL SELECT * FROM sn
         |    UNION ALL SELECT * FROM nc)),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         |$iters
         |SELECT node, r AS rank_ppb FROM r5""".stripMargin
    },

    // q148: every event expanded to its 4 overlapping 15-min-aligned
    // window starts (floor15 − i·15 min for i in 0..3 — all of them
    // satisfy ws <= ts < ws+1h by construction of the floor).
    "q148_hopping_windows" ->
      """SELECT make_timestamp(
        |    (epoch_us(ts) // 900000000) * 900000000 - g.i * 900000000)
        |    AS window_start,
        |  event_type, count(*) AS n_events
        |FROM events, (SELECT unnest(generate_series(0, 3)) AS i) g
        |GROUP BY 1, 2""".stripMargin,

    // q149: RANK keeps ties.
    "q149_rank_ties" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |    RANK() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderpriority ASC) AS rnk
        |  FROM orders)
        |WHERE rnk = 1""".stripMargin,

    // q150: standard precedence — INTERSECT binds tighter than EXCEPT,
    // matching the Spark chaining.
    "q150_intersect_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,

    // q145: native CUBE + GROUPING bitmask (first column = MSB on both
    // engines).
    "q145_cube_grouping" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
         |  coalesce(l_linestatus, 'ALL') AS ls,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |  count(*) AS n_rows,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // q146: the identical RANGE frame over epoch-micros; the DECIMAL
    // window sum casts to DOUBLE only at the end.
    "q146_rolling_7d" ->
      """SELECT event_id, user_id, epoch_us(ts) AS tsm,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS spend_7d
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    // q143: the native ASOF plus a post-hoc staleness gate on the
    // matched timestamp.
    "q143_asof_tolerance" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsm,
        |  CASE WHEN p.tsm IS NOT NULL AND c.tsm - p.tsm <= 86400000000
        |    THEN p.k END AS recent_purchase_k
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsm >= p.tsm""".stripMargin,

    // q144: both ASOF directions joined on the click, closer match
    // wins, ties backward.
    "q144_asof_nearest" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsm FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT c.event_id, c.user_id, c.tsm, p.k AS bk, p.tsm AS bt
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.tsm >= p.tsm),
        |f AS (
        |  SELECT c.event_id, p.k AS fk, p.tsm AS ft
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.tsm <= p.tsm)
        |SELECT b.event_id, b.user_id, b.tsm,
        |  CASE WHEN b.bt IS NULL THEN f.fk
        |    WHEN f.ft IS NULL THEN b.bk
        |    WHEN b.tsm - b.bt <= f.ft - b.tsm THEN b.bk
        |    ELSE f.fk END AS nearest_purchase_k
        |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin,

    // q141: q48's chain with the >= boundary session_window actually
    // implements (a new window starts when the gap REACHES the
    // duration).
    "q141_session_window" ->
      s"""WITH g AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800 * 1000000
         |    THEN 1 ELSE 0 END AS ns
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (
         |  SELECT user_id, ts, value,
         |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts)
         |      AS BIGINT) AS sn
         |  FROM g)
         |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
         |  ${dsumSql("value", 4)} AS sum_value
         |FROM s GROUP BY user_id, sn""".stripMargin,

    // q142: rank the session-size table, pick the ceil(p·n)-th element.
    "q142_session_percentiles" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id,
        |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts)
        |      AS BIGINT) AS sn
        |  FROM g),
        |sess AS (SELECT user_id, sn, count(*) AS n FROM s GROUP BY 1, 2),
        |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n ASC) AS _r FROM sess),
        |t AS (SELECT count(*) AS _total FROM sess)
        |SELECT p, session_events FROM (
        |  SELECT CASE
        |      WHEN _r = CAST(ceil(0.50 * _total) AS BIGINT) THEN 'p50'
        |      WHEN _r = CAST(ceil(0.90 * _total) AS BIGINT) THEN 'p90'
        |      WHEN _r = CAST(ceil(0.99 * _total) AS BIGINT) THEN 'p99'
        |      END AS p,
        |    n AS session_events
        |  FROM r, t)
        |WHERE p IS NOT NULL""".stripMargin,

    // q140: the identical exact-cents bin arithmetic.
    "q140_price_histogram" ->
      s"""SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    // 5000000 AS bin,
         |  count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1""".stripMargin,

    // q136: the long form computed directly — unpivot(pivot(x)) must
    // equal x restricted to nonzero cells.
    "q136_unpivot_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  'n_' || event_type AS event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    // q137: first-seen day per user, daily new-user counts, running sum.
    "q137_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP)
        |    AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS total_users
        |FROM d""".stripMargin,

    // q138: cohort = first-seen week; count distinct users per
    // (cohort_week, activity week).
    "q138_retention_cohorts" ->
      """WITH c AS (
        |  SELECT user_id, CAST(min(date_trunc('week', ts)) AS TIMESTAMP)
        |    AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        |  FROM events)
        |SELECT c.cohort_week, a.week, count(*) AS n_users
        |FROM c JOIN a ON c.user_id = a.user_id
        |GROUP BY 1, 2""".stripMargin,

    // q135: portable conditional-aggregate pivot (COUNT(*) FILTER per
    // declared type).
    "q135_pivot_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) FILTER (event_type = 'view') AS n_view,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  count(*) FILTER (event_type = 'error') AS n_error
        |FROM events GROUP BY 1""".stripMargin,

    // q134: one UNION ALL branch per column — the oracle can afford six
    // passes; the Spark side is the single-aggregate fusion.
    "q134_table_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM orders""".stripMargin).mkString("\nUNION ALL\n")
    },

    // q147: the q122 chain with seed-only init and a per-node base
    // vector joined after each damped aggregation ('n'-prefixed nodes
    // are the seeds).
    "q147_personalized_pagerank" -> {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT t.node,
           |    CAST(t._t + b.bb AS BIGINT) AS r
           |  FROM (
           |    SELECT n.node,
           |      (85 * COALESCE(SUM(p.r // deg.d), 0)) // 100 AS _t
           |    FROM nodes n
           |    LEFT JOIN edges e ON e.dst = n.node
           |    LEFT JOIN deg ON deg.src = e.src
           |    LEFT JOIN r${i - 1} p ON p.node = e.src
           |    GROUP BY 1) t
           |  JOIN b ON b.node = t.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH co AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |sn AS (
         |  SELECT DISTINCT 's' || s_suppkey AS src, 'n' || s_nationkey AS dst
         |  FROM supplier),
         |nc AS (
         |  SELECT DISTINCT 'n' || c_nationkey AS src, 'c' || c_custkey AS dst
         |  FROM customer),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT * FROM co UNION ALL SELECT * FROM sn
         |    UNION ALL SELECT * FROM nc)),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |b AS (
         |  SELECT node, CASE WHEN node LIKE 'n%' THEN 150000000
         |    ELSE 0 END AS bb
         |  FROM nodes),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
         |r0 AS (
         |  SELECT node, CAST(CASE WHEN node LIKE 'n%' THEN 1000000000
         |    ELSE 0 END AS BIGINT) AS r
         |  FROM nodes),
         |$iters
         |SELECT node, r AS rank_ppb FROM r5""".stripMargin
    },

    // q133: the q122 chain with order-volume weights — contribution
    // becomes (r·w) // Σw, everything else identical.
    "q133_pagerank_weighted" -> {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT n.node,
           |    CAST(150000000 + (85 * COALESCE(SUM((p.r * e.w) // deg.d), 0)) // 100
           |      AS BIGINT) AS r
           |  FROM nodes n
           |  LEFT JOIN edges e ON e.dst = n.node
           |  LEFT JOIN deg ON deg.src = e.src
           |  LEFT JOIN r${i - 1} p ON p.node = e.src
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH co AS (
         |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
         |    count(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |sn AS (
         |  SELECT DISTINCT 's' || s_suppkey AS src, 'n' || s_nationkey AS dst,
         |    1 AS w
         |  FROM supplier),
         |nc AS (
         |  SELECT DISTINCT 'n' || c_nationkey AS src, 'c' || c_custkey AS dst,
         |    1 AS w
         |  FROM customer),
         |edges AS (
         |  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
         |    SELECT * FROM co UNION ALL SELECT * FROM sn
         |    UNION ALL SELECT * FROM nc)
         |  GROUP BY 1, 2),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT DISTINCT dst FROM edges),
         |deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS d
         |  FROM edges GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
         |$iters
         |SELECT node, r AS rank_ppb FROM r5""".stripMargin
    },

    // q123: the funnel through min-timestamp chaining — each stage's
    // earliest qualifying event strictly after (and within 24 h of) the
    // previous stage's, which is exactly what the Spark fold's strict
    // `>` + gap advance computes.
    "q123_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |    AND epoch_us(e.ts) - epoch_us(v.t1) <= 86400000000
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |    AND epoch_us(e.ts) - epoch_us(c.t2) <= 86400000000
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
        |    WHEN c.user_id IS NOT NULL THEN 2
        |    WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  count(*) AS n_users
        |FROM u LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN c ON u.user_id = c.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |GROUP BY 1""".stripMargin,

    // q151: identical two-window SCD2 chain; the (tsm, event_id) sort is
    // a total order so both engines pick the same change rows.
    "q151_scd2_history" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase'
        |    AND CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
        |c AS (
        |  SELECT *, lag(k) OVER
        |    (PARTITION BY user_id ORDER BY tsm, event_id) AS pk
        |  FROM p)
        |SELECT user_id, k, tsm AS valid_from,
        |  lead(tsm) OVER (PARTITION BY user_id ORDER BY tsm, event_id)
        |    AS valid_to,
        |  CAST(lead(tsm) OVER (PARTITION BY user_id
        |    ORDER BY tsm, event_id) IS NULL AS BIGINT) AS is_current
        |FROM c WHERE pk IS NULL OR k <> pk""".stripMargin,

    // q201/q202: same daily rollup; OLS moments in one aggregate with
    // DuckDB's native floor //; Mann–Kendall over the same pair table.
    "q201_ols_trend" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(d) AS BIGINT) AS sx, CAST(sum(x) AS BIGINT) AS sy,
        |    CAST(sum(d * x) AS BIGINT) AS sxy,
        |    CAST(sum(d * d) AS BIGINT) AS sxx
        |  FROM daily)
        |SELECT n_days,
        |  n_days * sxy - sx * sy AS slope_num,
        |  n_days * sxx - sx * sx AS slope_den,
        |  CASE WHEN n_days * sxx - sx * sx = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE ((n_days * sxy - sx * sy) * 1000000)
        |      // (n_days * sxx - sx * sx) END AS ols_slope_ppm
        |FROM m""".stripMargin,
    "q202_mann_kendall" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1)
        |SELECT CAST(sum(sign(b.x - a.x)) AS BIGINT) AS s_stat,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ties
        |FROM daily a JOIN daily b ON a.d < b.d""".stripMargin,

    // q199: same rollup, same pair enumeration, same TRUNCATING integer
    // division (both engines' native semantic — Spark div and integer
    // //), same (slope, i, j)-ordered median pick.
    "q199_theilsen_trend" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |sl AS (
        |  SELECT a.d AS i, b.d AS j,
        |    ((b.x - a.x) * 1000000) // (b.d - a.d) AS slope_ppm
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |r AS (SELECT slope_ppm,
        |    ROW_NUMBER() OVER (ORDER BY slope_ppm, i, j) AS rn FROM sl),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM sl)
        |SELECT n_pairs, slope_ppm AS trend_slope_ppm
        |FROM r, n WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    // q198: the q151 history rebuilt, then the interval-membership left
    // join per click.
    "q198_pit_join" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE event_type = 'purchase'
        |    AND CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
        |c AS (
        |  SELECT *, lag(k) OVER
        |    (PARTITION BY user_id ORDER BY tsm, event_id) AS pk
        |  FROM p),
        |hist AS (
        |  SELECT user_id, k, tsm AS valid_from,
        |    lead(tsm) OVER (PARTITION BY user_id ORDER BY tsm, event_id)
        |      AS valid_to
        |  FROM c WHERE pk IS NULL OR k <> pk),
        |clicks AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT cl.user_id, cl.tsm, cl.event_id, h.k
        |FROM clicks cl LEFT JOIN hist h ON h.user_id = cl.user_id
        |  AND h.valid_from <= cl.tsm
        |  AND (h.valid_to IS NULL OR cl.tsm < h.valid_to)""".stripMargin,

    // q152: the same day − row_number island id.
    "q152_activity_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |r AS (
        |  SELECT user_id, d,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        |  FROM d)
        |SELECT user_id, min(d) AS streak_start_day,
        |  count(*) AS streak_days
        |FROM r GROUP BY user_id, d - rn""".stripMargin,

    // q153: the same full-outer MERGE classification; DECIMAL until the
    // final DOUBLE cast.
    "q153_merge_apply" ->
      """WITH src AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS delta
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
        |srcall AS (
        |  SELECT o_custkey AS key, delta FROM src
        |  UNION ALL
        |  SELECT o_custkey + 10000000, delta FROM src
        |  WHERE o_custkey % 97 = 0),
        |j AS (
        |  SELECT c.c_custkey, c.c_name,
        |    CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal, s.key, s.delta
        |  FROM customer c FULL OUTER JOIN srcall s
        |    ON c.c_custkey = s.key)
        |SELECT coalesce(c_custkey, key) AS c_custkey,
        |  coalesce(c_name, 'NEW') AS c_name,
        |  CAST(CASE WHEN key IS NULL THEN bal
        |    WHEN c_custkey IS NULL THEN delta
        |    ELSE bal + delta END AS DOUBLE) AS new_acctbal,
        |  CASE WHEN key IS NULL THEN 'K'
        |    WHEN c_custkey IS NULL THEN 'I' ELSE 'U' END AS op
        |FROM j
        |WHERE NOT (key IS NOT NULL AND c_custkey IS NOT NULL
        |  AND delta > 400000)""".stripMargin,

    // q154: the full recompute the partial-state merge must equal.
    "q154_incremental_agg_refresh" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS sum_price,
         |  ${dsumSql("o_totalprice")} / count(*) AS avg_price
         |FROM orders GROUP BY 1""".stripMargin,

    // q155: the same deterministic prior snapshot and diff classes.
    "q155_snapshot_diff" ->
      """WITH cur AS (
        |  SELECT c_custkey, c_name,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer),
        |prior AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0
        |      THEN bal - CAST(10 AS DECIMAL(18,2)) ELSE bal END AS bal
        |  FROM cur WHERE c_custkey % 101 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 5000000, c_name, bal FROM cur
        |  WHERE c_custkey % 103 = 0),
        |j AS (
        |  SELECT c.c_custkey AS ck, p.c_custkey AS pk, c.c_name AS cn,
        |    p.c_name AS pn, c.bal AS cb, p.bal AS pb
        |  FROM cur c FULL OUTER JOIN prior p
        |    ON c.c_custkey = p.c_custkey)
        |SELECT coalesce(ck, pk) AS c_custkey,
        |  CASE WHEN pk IS NULL THEN 'added'
        |    WHEN ck IS NULL THEN 'removed'
        |    WHEN cn <> pn OR cb <> pb THEN 'changed' END AS diff_class,
        |  CAST(cb AS DOUBLE) AS cur_bal, CAST(pb AS DOUBLE) AS prior_bal
        |FROM j
        |WHERE (CASE WHEN pk IS NULL THEN 'added'
        |    WHEN ck IS NULL THEN 'removed'
        |    WHEN cn <> pn OR cb <> pb THEN 'changed' END) IS NOT NULL
        |""".stripMargin,

    // q156: window sum CAST to BIGINT before the integer divide (DuckDB
    // window SUM(BIGINT) yields HUGEINT, which degrades in pandas).
    "q156_transition_matrix" ->
      """WITH p AS (
        |  SELECT event_type, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |    AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, event_type, count(*) AS n_trans FROM p
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n_trans,
        |  n_trans * 1000000 // CAST(SUM(n_trans) OVER
        |    (PARTITION BY prev_type) AS BIGINT) AS p_ppm
        |FROM c""".stripMargin,

    // q159: the identical interleave in DuckDB's shift operators.
    "q159_zorder_key" -> {
      val zexpr = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT o_orderkey, o_custkey & 65535 AS x,
         |    (CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      // 5000000) & 65535 AS y
         |  FROM orders)
         |SELECT o_orderkey, x, y, CAST($zexpr AS BIGINT) AS zkey,
         |  CAST($zexpr AS BIGINT) // 4096 AS zbucket
         |FROM b""".stripMargin
    },

    // q160: two lags, one deterministic global rank.
    "q160_top_paths" ->
      """WITH p AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER w AS t2,
        |    lag(event_type, 2) OVER w AS t1
        |  FROM events WINDOW w AS
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |c AS (
        |  SELECT t1, t2, event_type AS t3, count(*) AS n_paths FROM p
        |  WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n_paths, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER
        |    (ORDER BY n_paths DESC, t1, t2, t3) AS rank
        |  FROM c)
        |WHERE rank <= 10""".stripMargin,

    // q161: identical join + windows; the decay weight
    // greatest(1, 10⁶ // 2^Δdays) is exact on both engines (Δ ≤ 7 → the
    // shift never overflows; the floor-at-1 matches the Spark side's
    // ancient-click guard), and the window SUM casts to BIGINT before
    // the divide.
    "q161_multitouch_attribution" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS ptsm, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS ctsm, event_id AS cid
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.pid, c.cid, c.ctsm, p.ptsm FROM p
        |  JOIN c ON p.user_id = c.user_id AND c.ctsm <= p.ptsm
        |    AND p.ptsm - c.ctsm <= 604800000000),
        |r AS (
        |  SELECT pid, cid,
        |    greatest(1, CAST(1000000 AS BIGINT) // (1 << CAST((ptsm - ctsm)
        |      // 86400000000 AS INTEGER))) AS wd,
        |    count(*) OVER (PARTITION BY pid) AS n,
        |    row_number() OVER (PARTITION BY pid
        |      ORDER BY ctsm DESC, cid) AS rk
        |  FROM j)
        |SELECT pid, cid,
        |  1000000 // n + CASE WHEN rk <= 1000000 % n THEN 1 ELSE 0 END
        |    AS credit_ppm,
        |  wd * 1000000 // CAST(SUM(wd) OVER (PARTITION BY pid)
        |    AS BIGINT) AS decay_credit_ppm
        |FROM r""".stripMargin,

    // q162: the identical 7-day contribution expansion.
    "q162_trailing_active_users" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |  FROM events),
        |m AS (SELECT max(d) AS maxd FROM d),
        |e AS (
        |  SELECT user_id, d + g.i AS report_day
        |  FROM d, (SELECT unnest(generate_series(0, 6)) AS i) g)
        |SELECT report_day, count(DISTINCT user_id) AS wau
        |FROM e, m WHERE report_day <= m.maxd
        |GROUP BY report_day""".stripMargin,

    // q163: aggregates over the q159 oracle chain.
    "q163_zorder_tiles" -> {
      val zexpr = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT o_custkey & 65535 AS x,
         |    (CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      // 5000000) & 65535 AS y
         |  FROM orders),
         |z AS (
         |  SELECT x, y, CAST($zexpr AS BIGINT) // 4096 AS zbucket FROM b)
         |SELECT zbucket, count(*) AS n_rows,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY zbucket""".stripMargin
    },

    // q165: the oracle is the DIRECT (unsalted) aggregate — count and
    // decimal-sum are algebraic, so the two-phase salted plan must
    // reproduce it bit-exactly.
    "q165_salted_agg" ->
      s"""SELECT event_type, count(*) AS n_events,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY event_type""".stripMargin,

    // q166: recursive CTE over the same three edge sets; UNION dedups
    // (node, dist) pairs so cycles terminate at the dist < 20 guard,
    // and min(dist) collapses to the BFS hop count.
    "q166_bfs_hops" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'c' || o.o_custkey AS src,
        |    's' || l.l_suppkey AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  UNION
        |  SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier
        |  UNION
        |  SELECT 'n' || c_nationkey, 'c' || c_custkey FROM customer),
        |walk AS (
        |  SELECT 'n0' AS node, 0 AS dist
        |  UNION
        |  SELECT e.dst, w.dist + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.dist < 20)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY node""".stripMargin,

    // q169: identical integer inequality — no stddev/variance function
    // on either side, so there is no float to disagree about.
    "q169_anomaly_days" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT count(*) AS n, CAST(sum(n_events) AS BIGINT) AS s,
        |    CAST(sum(n_events * n_events) AS BIGINT) AS ss
        |  FROM daily)
        |SELECT day, n_events,
        |  CAST(CASE WHEN (n * n_events - s) * (n * n_events - s)
        |    > 4 * (n * ss - s * s) THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_anomaly
        |FROM daily, st""".stripMargin,

    // q171: q48's session construction verbatim, then the same clipped
    // +1/−1 sweep with the identical (tsm asc, delta desc) tie rule and
    // an explicit ROWS frame on both engines.
    "q171_peak_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sn AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_no,
        |    min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        |  FROM sn GROUP BY 1, 2),
        |d AS (
        |  SELECT s, e,
        |    unnest(generate_series(s // 86400000000, e // 86400000000))
        |      AS day
        |  FROM sess),
        |c AS (
        |  SELECT day, greatest(s, day * 86400000000) AS cs,
        |    least(e, (day + 1) * 86400000000 - 1) AS ce
        |  FROM d),
        |b AS (
        |  SELECT day, cs AS tsm, 1 AS delta FROM c
        |  UNION ALL SELECT day, ce + 1, -1 FROM c),
        |r AS (
        |  SELECT day, SUM(delta) OVER (PARTITION BY day
        |    ORDER BY tsm ASC, delta DESC ROWS UNBOUNDED PRECEDING) AS run
        |  FROM b)
        |SELECT day, CAST(max(run) AS BIGINT) AS peak_sessions
        |FROM r GROUP BY day""".stripMargin,

    // q172: the oracle takes the self-join road (DuckDB's optimizer is
    // fine with it at this scale) — the Spark side's row-local pair
    // enumeration must produce the identical pair counts.
    "q172_copurchase_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ic AS (SELECT l_partkey AS p, count(*) AS c FROM b GROUP BY 1),
        |pc AS (
        |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |    count(*) AS n_orders
        |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_orders,
        |  ((n_orders * n_orders) // (ca.c * cb.c)) * 1000000
        |    + (((n_orders * n_orders) % (ca.c * cb.c)) * 1000
        |        // (ca.c * cb.c)) * 1000
        |    + ((((n_orders * n_orders) % (ca.c * cb.c)) * 1000)
        |        % (ca.c * cb.c)) * 1000 // (ca.c * cb.c)
        |    AS cosine2_ppm
        |FROM pc
        |JOIN ic ca ON ca.p = pc.part_a
        |JOIN ic cb ON cb.p = pc.part_b""".stripMargin,

    // q173: flat ROW_NUMBER ranks — what the two-phase globalRank must
    // reproduce position-for-position — and the same rank-range
    // quintile formula (deliberately NOT NTILE).
    "q173_rfm_scores" ->
      """WITH rfm AS (
        |  SELECT o_custkey,
        |    max(epoch_us(o_orderdate) // 86400000000) AS recency_day,
        |    count(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM rfm),
        |r AS (
        |  SELECT o_custkey, recency_day, frequency, monetary_cents,
        |    ROW_NUMBER() OVER (ORDER BY recency_day DESC, o_custkey) AS rr,
        |    ROW_NUMBER() OVER (ORDER BY frequency DESC, o_custkey) AS fr,
        |    ROW_NUMBER() OVER (ORDER BY monetary_cents DESC, o_custkey)
        |      AS mr
        |  FROM rfm)
        |SELECT o_custkey, recency_day, frequency, monetary_cents,
        |  ((rr - 1) * 5) // n + 1 AS r_score,
        |  ((fr - 1) * 5) // n + 1 AS f_score,
        |  ((mr - 1) * 5) // n + 1 AS m_score,
        |  (((rr - 1) * 5) // n + 1) * 100 + (((fr - 1) * 5) // n + 1) * 10
        |    + (((mr - 1) * 5) // n + 1) AS rfm_code
        |FROM r, n""".stripMargin,

    // q174: NOT EXISTS per relation — null FKs orphan on both sides.
    "q174_fk_audit" ->
      """SELECT 'lineitem->orders' AS relation, count(*) AS n_orphans,
        |  count(DISTINCT l_orderkey) AS n_orphan_keys
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'orders->customer', count(*), count(DISTINCT o_custkey)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'lineitem->part', count(*), count(DISTINCT l_partkey)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem->supplier', count(*), count(DISTINCT l_suppkey)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |UNION ALL
        |SELECT 'customer->nation', count(*), count(DISTINCT c_nationkey)
        |FROM customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'supplier->nation', count(*), count(DISTINCT s_nationkey)
        |FROM supplier s WHERE NOT EXISTS
        |  (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)"""
        .stripMargin,

    // q177: identical closed form — prefix sum minus running min with
    // explicit ROWS frames; μ/slack from the same integer aggregate.
    "q177_cusum_changepoints" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT count(*) AS n, CAST(sum(n_events) AS BIGINT) AS s
        |  FROM daily),
        |d AS (
        |  SELECT day, n_events, s // n AS mu,
        |    n_events - (s // n) - ((s // n) // 20) AS dev
        |  FROM daily, st),
        |p AS (
        |  SELECT day, n_events, mu,
        |    SUM(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pf
        |  FROM d),
        |r AS (
        |  SELECT day, n_events, mu, pf,
        |    min(pf) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS runmin
        |  FROM p)
        |SELECT day, n_events,
        |  CAST(pf - least(runmin, 0) AS BIGINT) AS cusum,
        |  CAST(CASE WHEN pf - least(runmin, 0) > mu THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_alarm
        |FROM r""".stripMargin,

    // q178: the oracle is the PLAIN per-type window — the two-phase
    // salted cut must reproduce it (top-k is salt-decomposable).
    "q178_salted_topk" ->
      """SELECT event_type, rank, event_id, value_cents FROM (
        |  SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS value_cents,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        DESC, event_id ASC) AS rank
        |  FROM events)
        |WHERE rank <= 10""".stripMargin,

    // q179: the same canonical row rendering (every field COALESCEd to
    // the '\N' sentinel) and md5-prefix hash — any divergence in a
    // single row flips the day's XOR signature.
    "q179_table_checksum" ->
      """WITH h AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('ck:' ||
        |        (COALESCE(CAST(o_orderkey AS VARCHAR), '\N')
        |         || '|' || COALESCE(CAST(o_custkey AS VARCHAR), '\N')
        |         || '|' || COALESCE(o_orderstatus, '\N')
        |         || '|' || COALESCE(CAST(CAST(CAST(o_totalprice
        |              AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
        |              '\N')
        |         || '|' || COALESCE(o_orderpriority, '\N'))), 1, 8), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM orders)
        |SELECT day, count(*) AS n_rows, bit_xor(h) AS xor_sig,
        |  CAST(sum(h) AS BIGINT) AS sum_sig
        |FROM h GROUP BY day""".stripMargin,

    // q180: margins + scalar total, identical ratio arithmetic.
    "q180_contingency_lift" ->
      """WITH cell AS (
        |  SELECT lang, source, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, count(*) AS rm FROM documents GROUP BY 1),
        |c AS (SELECT source, count(*) AS cm FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS tt FROM documents)
        |SELECT cell.lang, cell.source, n_docs,
        |  (n_docs * tt * 1000000) // (rm * cm) AS lift_ppm
        |FROM cell JOIN r ON r.lang = cell.lang
        |JOIN c ON c.source = cell.source, t""".stripMargin,

    // q182: q172's pair chain, symmetrized, same tie order.
    "q182_also_bought" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ic AS (SELECT l_partkey AS p, count(*) AS c FROM b GROUP BY 1),
        |pc AS (
        |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |    count(*) AS n_orders
        |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (
        |  SELECT part_a, part_b, n_orders,
        |    ((n_orders * n_orders) // (ca.c * cb.c)) * 1000000
        |      + (((n_orders * n_orders) % (ca.c * cb.c)) * 1000
        |          // (ca.c * cb.c)) * 1000
        |      + ((((n_orders * n_orders) % (ca.c * cb.c)) * 1000)
        |          % (ca.c * cb.c)) * 1000 // (ca.c * cb.c)
        |      AS cosine2_ppm
        |  FROM pc
        |  JOIN ic ca ON ca.p = pc.part_a
        |  JOIN ic cb ON cb.p = pc.part_b),
        |sym AS (
        |  SELECT part_a AS part, part_b AS rec, n_orders, cosine2_ppm
        |  FROM sc
        |  UNION ALL
        |  SELECT part_b, part_a, n_orders, cosine2_ppm FROM sc)
        |SELECT part, rec_rank, rec, n_orders, cosine2_ppm FROM (
        |  SELECT part, rec, n_orders, cosine2_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY part
        |      ORDER BY cosine2_ppm DESC, n_orders DESC, rec ASC)
        |      AS rec_rank
        |  FROM sym)
        |WHERE rec_rank <= 3""".stripMargin,

    // q184: identical cross-multiplied CDF arithmetic; the argmax tie
    // resolves to the smallest bin on both sides.
    "q184_ks_drift" ->
      """WITH binned AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      // 100 AS bin,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT)
        |    AS tb
        |  FROM binned),
        |cum AS (
        |  SELECT bin,
        |    CAST(SUM(a) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(b) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cb
        |  FROM binned),
        |d AS (
        |  SELECT bin, abs(ca * tb - cb * ta) AS dd, ta, tb
        |  FROM cum, tot),
        |m AS (SELECT max(dd) AS ks FROM d)
        |SELECT min(bin) AS argmax_bin, CAST(ks AS BIGINT) AS ks_scaled,
        |  (ks // (ta * tb)) * 1000000
        |    + ((ks % (ta * tb)) * 1000 // (ta * tb)) * 1000
        |    + (((ks % (ta * tb)) * 1000) % (ta * tb)) * 1000 // (ta * tb)
        |    AS ks_ppm,
        |  ta AS n_view, tb AS n_purchase
        |FROM d, m WHERE dd = ks GROUP BY ks, ta, tb""".stripMargin,

    // q185: one grouped pass, same derived columns.
    "q185_id_completeness" ->
      """SELECT o_orderkey // 4096 AS bucket, count(*) AS n_rows,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  min(o_orderkey) AS id_min, max(o_orderkey) AS id_max,
        |  max(o_orderkey) - min(o_orderkey) + 1
        |    - count(DISTINCT o_orderkey) AS n_missing,
        |  count(*) - count(DISTINCT o_orderkey) AS n_dup
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin,

    // q186: same device per priority — exact because latency days are
    // already integers.
    "q186_latency_percentiles" ->
      """WITH lat AS (
        |  SELECT o_orderpriority,
        |    (epoch_us(l_shipdate) - epoch_us(o_orderdate))
        |      // 86400000000 AS days
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |c AS (
        |  SELECT o_orderpriority, days, count(*) AS n
        |  FROM lat GROUP BY 1, 2),
        |t AS (
        |  SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS nt
        |  FROM c GROUP BY 1),
        |cum AS (
        |  SELECT o_orderpriority, days,
        |    SUM(n) OVER (PARTITION BY o_orderpriority ORDER BY days
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT cum.o_orderpriority, nt AS n_lineitems,
        |  min(CASE WHEN cum * 100 >= nt * 50 THEN days END) AS p50_days,
        |  min(CASE WHEN cum * 100 >= nt * 90 THEN days END) AS p90_days,
        |  min(CASE WHEN cum * 100 >= nt * 99 THEN days END) AS p99_days
        |FROM cum JOIN t ON t.o_orderpriority = cum.o_orderpriority
        |GROUP BY 1, 2""".stripMargin,

    // q195: the identical 8 relaxation rounds, unrolled — each round is
    // one join + group-min, so the oracle is mechanical and bounded
    // (never a recursive path enumeration).
    "q195_sssp_weighted" -> ssspOracleSql(8),

    // q176: identical exact-cents bins, cumulative, ceil-threshold
    // conditional mins. q191 serves the same report from the persisted
    // MERGED histogram index — bin-count addition is exact, so the
    // oracle is shared verbatim.
    "q191_hist_merged" -> histOracleSql,
    "q176_histogram_quantiles" -> histOracleSql,

    // q206: the per-half md5 bucket draw, per-bucket (value, id) rank
    // compaction with ceil-step + run weights, bag-union merge, and the
    // cumulative-crossing percentile pick — replayed digit for digit.
    "q206_quantile_sketch" ->
      """WITH src AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    event_id % 2 AS half,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('qk:' || CAST(event_id AS VARCHAR)), 1, 8), ''),
        |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 16 AS bk
        |  FROM events),
        |rk AS (
        |  SELECT half, bk, v, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY half, bk
        |      ORDER BY v, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY half, bk) AS BIGINT) AS nb
        |  FROM src),
        |sk AS (
        |  SELECT v, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv AS (SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM sk GROUP BY 1),
        |n AS (SELECT CAST(SUM(w) AS BIGINT) AS nt FROM byv),
        |cum AS (
        |  SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM byv)
        |SELECT nt AS n_total,
        |  min(CASE WHEN cum * 100 >= nt * 50 THEN v END) AS p50_v,
        |  min(CASE WHEN cum * 100 >= nt * 90 THEN v END) AS p90_v,
        |  min(CASE WHEN cum * 100 >= nt * 99 THEN v END) AS p99_v
        |FROM cum, n GROUP BY nt""".stripMargin,

    // q214: the q206 two-half sketch replay with event_type threaded
    // through every partition and group — per-key compaction, per-key
    // bag-union merge, per-key crossing pick.
    "q214_grouped_quantiles" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    event_id % 2 AS half,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('qk:' || CAST(event_id AS VARCHAR)), 1, 8), ''),
        |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 16 AS bk
        |  FROM events),
        |rk AS (
        |  SELECT event_type, half, bk, v, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type, half, bk
        |      ORDER BY v, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type, half, bk)
        |      AS BIGINT) AS nb
        |  FROM src),
        |sk AS (
        |  SELECT event_type, v, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv AS (
        |  SELECT event_type, v, CAST(SUM(w) AS BIGINT) AS w
        |  FROM sk GROUP BY 1, 2),
        |n AS (
        |  SELECT event_type, CAST(SUM(w) AS BIGINT) AS nt
        |  FROM byv GROUP BY 1),
        |cum AS (
        |  SELECT event_type, v,
        |    SUM(w) OVER (PARTITION BY event_type ORDER BY v
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM byv)
        |SELECT c.event_type, n.nt AS n_total,
        |  min(CASE WHEN c.cum * 100 >= n.nt * 50 THEN c.v END) AS p50_v,
        |  min(CASE WHEN c.cum * 100 >= n.nt * 90 THEN c.v END) AS p90_v,
        |  min(CASE WHEN c.cum * 100 >= n.nt * 99 THEN c.v END) AS p99_v
        |FROM cum c JOIN n USING (event_type)
        |GROUP BY 1, 2""".stripMargin,

    // q216: the grouped sketch replayed TWICE (values, then absolute
    // deviations from the served median) + the integer robust z per
    // event.
    "q216_robust_anomalies" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('qk:' || CAST(event_id AS VARCHAR)), 1, 8), ''),
        |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 16 AS bk
        |  FROM events),
        |rk AS (
        |  SELECT event_type, bk, v, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type, bk
        |      ORDER BY v, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type, bk) AS BIGINT) AS nb
        |  FROM src),
        |sk AS (
        |  SELECT event_type, v, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv AS (
        |  SELECT event_type, v, CAST(SUM(w) AS BIGINT) AS w
        |  FROM sk GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS nt
        |  FROM byv GROUP BY 1),
        |cum AS (
        |  SELECT event_type, v,
        |    SUM(w) OVER (PARTITION BY event_type ORDER BY v
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM byv),
        |med AS (
        |  SELECT c.event_type,
        |    min(CASE WHEN c.cum * 100 >= n.nt * 50 THEN c.v END) AS med_v
        |  FROM cum c JOIN n USING (event_type) GROUP BY 1),
        |dev AS (
        |  SELECT s.event_id, s.event_type, s.v, m.med_v,
        |    abs(s.v - m.med_v) AS d, s.bk
        |  FROM src s JOIN med m USING (event_type)),
        |rk2 AS (
        |  SELECT event_type, bk, d, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type, bk
        |      ORDER BY d, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type, bk) AS BIGINT) AS nb
        |  FROM dev),
        |sk2 AS (
        |  SELECT event_type, d, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk2 WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv2 AS (
        |  SELECT event_type, d, CAST(SUM(w) AS BIGINT) AS w
        |  FROM sk2 GROUP BY 1, 2),
        |n2 AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS nt
        |  FROM byv2 GROUP BY 1),
        |cum2 AS (
        |  SELECT event_type, d,
        |    SUM(w) OVER (PARTITION BY event_type ORDER BY d
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM byv2),
        |mad AS (
        |  SELECT c.event_type,
        |    min(CASE WHEN c.cum * 100 >= n2.nt * 50 THEN c.d END) AS mad_v
        |  FROM cum2 c JOIN n2 USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.v AS cents, e.med_v, a.mad_v,
        |  CAST((e.d * 674500) // greatest(a.mad_v, 1) AS BIGINT)
        |    AS robust_ppm,
        |  CAST(CASE WHEN (e.d * 674500) // greatest(a.mad_v, 1) > 3500000
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM dev e JOIN mad a USING (event_type)""".stripMargin,

    // q213: the q206 sketch replay (single build, no halves) + a
    // correlated cumulative-weight rank per event over the ≤1k-row
    // summary.
    // q232: q213's rank replay with every stage KEYED by event_type —
    // buckets per (type, bk), summaries per type, per-row correlated
    // rank within the row's type.
    "q232_grouped_normalize" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('qk:' || CAST(event_id AS VARCHAR)), 1, 8), ''),
        |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 16 AS bk
        |  FROM events),
        |rk AS (
        |  SELECT event_type, bk, v, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type, bk
        |      ORDER BY v, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type, bk) AS BIGINT)
        |      AS nb
        |  FROM src),
        |sk AS (
        |  SELECT event_type, v, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv AS (SELECT event_type, v, CAST(SUM(w) AS BIGINT) AS w
        |        FROM sk GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS nt
        |      FROM byv GROUP BY 1)
        |SELECT s.event_id, s.event_type, s.v AS cents,
        |  CAST((SELECT COALESCE(CAST(SUM(b.w) AS BIGINT), 0) FROM byv b
        |        WHERE b.event_type = s.event_type AND b.v <= s.v)
        |    * 1000000 // n.nt AS BIGINT) AS rank_ppm
        |FROM src s JOIN n ON n.event_type = s.event_type""".stripMargin,

    // q233: per-column stats + the KMV bottom-64 distinct estimate,
    // every md5 slot replayed.
    "q233_column_profile" -> {
      def colBlock(name: String, vExpr: String): String =
        s"""SELECT '$name' AS "column", n_rows, n_null, n_distinct_est,
           |  min_lex, max_lex FROM
           |(SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $vExpr IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  MIN($vExpr) AS min_lex, MAX($vExpr) AS max_lex FROM o),
           |(SELECT CAST(CASE WHEN nk < 64 THEN nk
           |    ELSE 63 * 4294967296 // greatest(hk, 1) END AS BIGINT)
           |    AS n_distinct_est
           | FROM (SELECT COUNT(*) AS nk, MAX(h) AS hk FROM (
           |   SELECT h FROM (
           |     SELECT DISTINCT list_reduce(list_transform(
           |       string_split(substr(md5('prof:' || $vExpr), 1, 8), ''),
           |       ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
           |       (a, b) -> a * 16 + b) AS h
           |     FROM o WHERE $vExpr IS NOT NULL)
           |   ORDER BY h LIMIT 64)))""".stripMargin
      s"""WITH o AS (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS k1,
         |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
         |         ELSE CAST(o_custkey AS VARCHAR) END AS k2,
         |    o_orderstatus AS k3, o_orderpriority AS k4
         |  FROM orders)
         |${colBlock("o_orderkey", "k1")}
         |UNION ALL
         |${colBlock("o_custkey", "k2")}
         |UNION ALL
         |${colBlock("o_orderstatus", "k3")}
         |UNION ALL
         |${colBlock("o_orderpriority", "k4")}""".stripMargin
    },

    // q235: q232's keyed sketch replay + the two percentile picks +
    // the clip.
    "q235_winsorize" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('qk:' || CAST(event_id AS VARCHAR)), 1, 8), ''),
        |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 16 AS bk
        |  FROM events),
        |rk AS (
        |  SELECT event_type, bk, v, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type, bk
        |      ORDER BY v, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type, bk) AS BIGINT)
        |      AS nb
        |  FROM src),
        |sk AS (
        |  SELECT event_type, v, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv AS (SELECT event_type, v, CAST(SUM(w) AS BIGINT) AS w
        |        FROM sk GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS nt
        |      FROM byv GROUP BY 1),
        |cum AS (
        |  SELECT event_type, v,
        |    SUM(w) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM byv),
        |b AS (
        |  SELECT c.event_type,
        |    MIN(CASE WHEN c.cum * 100 >= n.nt * 5 THEN c.v END) AS lo_v,
        |    MIN(CASE WHEN c.cum * 100 >= n.nt * 95 THEN c.v END) AS hi_v
        |  FROM cum c JOIN n USING (event_type) GROUP BY 1)
        |SELECT s.event_id, s.event_type, s.v AS cents, b.lo_v, b.hi_v,
        |  GREATEST(b.lo_v, LEAST(b.hi_v, s.v)) AS clipped
        |FROM src s JOIN b USING (event_type)""".stripMargin,

    "q213_quantile_normalize" ->
      """WITH src AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    list_reduce(list_transform(
        |      string_split(substr(md5('qk:' || CAST(event_id AS VARCHAR)), 1, 8), ''),
        |      ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 16 AS bk
        |  FROM events),
        |rk AS (
        |  SELECT bk, v, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY bk
        |      ORDER BY v, event_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY bk) AS BIGINT) AS nb
        |  FROM src),
        |sk AS (
        |  SELECT v, LEAST((nb + 63) // 64, nb - rn + 1) AS w
        |  FROM rk WHERE (rn - 1) % ((nb + 63) // 64) = 0),
        |byv AS (SELECT v, CAST(SUM(w) AS BIGINT) AS w FROM sk GROUP BY 1),
        |n AS (SELECT CAST(SUM(w) AS BIGINT) AS nt FROM byv)
        |SELECT s.event_id, s.v AS cents,
        |  CAST((SELECT COALESCE(CAST(SUM(b.w) AS BIGINT), 0) FROM byv b
        |        WHERE b.v <= s.v) * 1000000 // n.nt AS BIGINT) AS rank_ppm
        |FROM src s, n""".stripMargin,

    // q194: same daily aggregate + generate_series grid; the forward
    // fill replayed as an ASOF self-join instead of a window — an
    // independent device for the same relation.
    "q194_gapfill_ffill" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_n,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(day_n) AS d0, max(day_n) AS d1
        |  FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(d0, d1)) AS day_n
        |  FROM spans),
        |j AS (
        |  SELECT g.event_type, g.day_n,
        |    CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events
        |  FROM grid g LEFT JOIN daily d USING (event_type, day_n))
        |SELECT j.event_type, j.day_n, j.n_events,
        |  d2.day_cents AS last_cents
        |FROM j ASOF LEFT JOIN daily d2
        |  ON j.event_type = d2.event_type AND j.day_n >= d2.day_n""".stripMargin
  )

  /** The q195 oracle, generated for `rounds` rounds in lockstep with
    * [[graft.graphquery.Graph.ssspRounds]]: d0 is the source row, each
    * d_r the min over (carried dists ∪ one-edge relaxations of d_{r-1}). */
  private def ssspOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.dst, d.dist + e.w FROM d${r - 1} d
         |    JOIN edges e ON e.src = d.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst,
       |    (o.o_custkey + l.l_suppkey) % 9 + 1 AS w
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |  UNION
       |  SELECT 's' || s_suppkey, 'n' || s_nationkey, s_suppkey % 5 + 1
       |  FROM supplier
       |  UNION
       |  SELECT 'n' || c_nationkey, 'c' || c_custkey, c_custkey % 7 + 1
       |  FROM customer),
       |d0 AS (SELECT 'n0' AS node, CAST(0 AS BIGINT) AS dist),
       |$roundCtes
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds""".stripMargin
  }

  /** Shared q176/q191 oracle: the single-shot exact-cents histogram +
    * percentile report in DuckDB SQL. (A `def`: the oracles map above
    * initializes first, so a val here would still be null there.) */
  private[operators] def histOracleSql: String =
    """WITH bins AS (
      |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
      |    AS bin
      |  FROM events),
      |c AS (SELECT bin, count(*) AS n FROM bins GROUP BY 1),
      |n AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
      |cum AS (
      |  SELECT bin,
      |    SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM c)
      |SELECT nt AS n_events,
      |  min(CASE WHEN cum * 100 >= nt * 50 THEN bin * 100 END)
      |    AS p50_cents,
      |  min(CASE WHEN cum * 100 >= nt * 90 THEN bin * 100 END)
      |    AS p90_cents,
      |  min(CASE WHEN cum * 100 >= nt * 99 THEN bin * 100 END)
      |    AS p99_cents
      |FROM cum, n GROUP BY nt""".stripMargin
}
