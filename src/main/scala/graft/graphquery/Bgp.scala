package graft.graphquery

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.Checkpoints

/** Basic-graph-pattern combinators over the canonical triples DataFrame
  * (s, p, o, oIsIri, oLang, oDatatype) — the SPARQL-subset "engine"
  * (SURVEY.md §7.1 module 3), built as DataFrame combinators instead of a
  * parser so Catalyst sees one declarative plan per query.
  *
  * Each combinator mirrors a SPARQL feature the reference embeds in its 34
  * SELECT queries (SURVEY.md §2.3): triple patterns, property paths
  * (DcatAp11ToCkanBatch.java:259), inverse paths (:372), LANGMATCHES
  * filters (:254), FILTER NOT EXISTS (MultiAttributeDimension.java:56),
  * VALUES with UNDEF (:38-43), and the singleResult scalar lookup with ""
  * default (DcatAp11ToCkanBatch.java:627-641).
  *
  * Scale shape: `pattern` is a pushed-down filter on `p` (partition triples
  * by predicate at 100 TB and these become partition-pruned scans); hop
  * joins shuffle on the IRI join key; small graphs (codelists, descriptors)
  * should be wrapped in `broadcast()` by the caller.
  */
object Bgp {

  /** One triple pattern with a fixed predicate: SELECT ?s ?o WHERE {?s <p> ?o}.
    * Returns columns (s, `as`).
    */
  def pattern(t: DataFrame, p: String, as: String): DataFrame =
    t.filter(col("p") === p).select(col("s"), col("o").as(as))

  /** SPARQL LANGMATCHES with RFC 4647 basic filtering: the language range
    * matches the tag exactly (case-insensitive) or any of its
    * region/variant subtags — `cs` matches `cs` and `cs-CZ` but not
    * `csx`; `*` matches any tagged literal. The reference always passes a
    * bare primary tag (DcatAp11ToCkanBatch.java:254), but its Jena
    * langMatches implements full basic filtering, so a catalog carrying
    * regioned tags must not lose them here.
    */
  def langMatches(tag: Column, range: String): Column = {
    val r = range.toLowerCase
    if (r == "*") tag.isNotNull && tag =!= ""
    else lower(tag) === r || startswith(lower(tag), lit(r + "-"))
  }

  /** Pattern keeping only lang-tagged literals whose tag LANGMATCHES
    * `lang` (basic filtering — see [[langMatches]]).
    */
  def patternLang(t: DataFrame, p: String, lang: String, as: String): DataFrame =
    t.filter(col("p") === p && langMatches(col("oLang"), lang))
      .select(col("s"), col("o").as(as))

  /** Property path p1/p2 (two-hop): SELECT ?s ?o WHERE {?s <p1>/<p2> ?o}.
    * The intermediate node is t1.o === t2.s.
    */
  def path(t: DataFrame, p1: String, p2: String, as: String,
           broadcastHop: Boolean = false,
           lang2: Option[String] = None): DataFrame = {
    val h1 = t.filter(col("p") === p1).select(col("s"), col("o").as("_mid"))
    val hop2Filter = lang2 match {
      case Some(l) => col("p") === p2 && langMatches(col("oLang"), l)
      case None => col("p") === p2
    }
    val h2raw = t.filter(hop2Filter)
      .select(col("s").as("_mid2"), col("o").as(as))
    val h2 = if (broadcastHop) broadcast(h2raw) else h2raw
    h1.join(h2, col("_mid") === col("_mid2")).select(col("s"), col(as))
  }

  /** Inverse path ^p: SELECT ?s ?o WHERE {?o <p> ?s} — rebinds the object
    * position as the subject (DcatAp11ToCkanBatch.java:372).
    */
  def inverse(t: DataFrame, p: String, as: String): DataFrame =
    t.filter(col("p") === p).select(col("o").as("s"), col("s").as(as))

  /** Sequence path p1/p2/…/pn (n-hop): generalizes [[path]] by folding
    * one equi-join per hop; each hop's slice is a pushed predicate filter.
    * `broadcastHops` wraps every non-first hop in broadcast() for the
    * small-graph case (codelists, descriptors).
    */
  def pathSeq(t: DataFrame, ps: Seq[String], as: String,
              broadcastHops: Boolean = false): DataFrame = {
    require(ps.nonEmpty, "pathSeq needs at least one predicate")
    val first = t.filter(col("p") === ps.head)
      .select(col("s"), col("o").as("_hop"))
    val joined = ps.tail.foldLeft(first) { (acc, p) =>
      val hopRaw = t.filter(col("p") === p)
        .select(col("s").as("_hs"), col("o").as("_ho"))
      val hop = if (broadcastHops) broadcast(hopRaw) else hopRaw
      acc.join(hop, col("_hop") === col("_hs"))
        .select(col("s"), col("_ho").as("_hop"))
    }
    joined.select(col("s"), col("_hop").as(as))
  }

  /** Reflexive-transitive path p* : p+ plus the zero-length (n, n) pair
    * for every term of the QUERIED GRAPH — all subjects and objects of
    * `t`, not only terms incident to `p` (SPARQL zero-length-path
    * semantics: a node with no p-edges still reaches itself).
    */
  def pathStar(t: DataFrame, p: String, as: String,
               maxRounds: Int = 20): DataFrame = {
    val nodes = t.select(col("s"))
      .unionByName(t.select(col("o").as("s"))).distinct()
    pathPlus(t, p, as, maxRounds)
      .unionByName(nodes.select(col("s"), col("s").as(as)))
      .distinct()
  }

  /** Zero-or-one path p? : the p edges plus the zero-length (n, n) pair
    * for every term of the queried graph — [[pathStar]]'s reflexive row
    * without the fixpoint (SPARQL 1.1 ZeroOrOnePath; set semantics).
    * One predicate-filtered scan + one distinct over graph terms. */
  def pathZeroOrOne(t: DataFrame, p: String, as: String): DataFrame = {
    val nodes = t.select(col("s"))
      .unionByName(t.select(col("o").as("s"))).distinct()
    t.filter(col("p") === p).select(col("s"), col("o").as(as))
      .unionByName(nodes.select(col("s"), col("s").as(as)))
      .distinct()
  }

  /** Transitive path p+ : all (s, o) with a directed p-path of length ≥ 1
    * — the SPARQL property-path operator Spark has no built-in for, as a
    * distributed fixpoint ([[pathPlusEdges]] over the p edges).
    *
    * Strategy: pointer doubling (path-doubling), not per-hop BFS — each
    * round joins the closure-so-far with itself, so paths up to length 2ᵏ
    * exist after k rounds and a depth-d graph closes in O(log d) rounds
    * instead of O(d). A closure within one partition's rows (10,000)
    * is collected once and finishes on the driver with no further job;
    * above that each round is ONE Spark job, and the driver's work per
    * round is the job's row count (the fixpoint test). Cycles converge
    * (the closure is a finite set); `maxRounds` (2^20-length paths at the
    * default) bounds the degenerate case.
    */
  def pathPlus(t: DataFrame, p: String, as: String,
               maxRounds: Int = 20): DataFrame =
    pathPlusEdges(t.filter(col("p") === p).select(col("s"), col("o")),
      maxRounds).select(col("s"), col("o").as(as))

  /** The pointer-doubling fixpoint over an ARBITRARY (s, o) edge set —
    * what lets GROUPED property paths close: `(p/q)+` is this fixpoint
    * over the composite p⨝q relation, `(p|q)+` over the unioned edge
    * sets, and [[pathPlus]] over one predicate's edges.
    *
    * The closure is a pair RDD of plain strings (k, s, o), partitioned
    * by (k, s). A round is one job of three stages: (1) shuffle the
    * closure by its object, the middle node; (2) join it with the
    * closure itself — already partitioned by source, so that side is a
    * narrow dependency — and shuffle the new pairs by source; (3) union
    * closure and new pairs partition by partition (co-partitioned, so
    * no shuffle), dedupe each partition in Spark's spillable map, and
    * cut the lineage with [[graft.Checkpoints.cutEagerCollecting]], whose
    * row count is the convergence scalar — the count is the job's own
    * action, so no `observe` metric and no second execution is needed.
    * Round 0 is one job over the input edges: shuffle by source, dedupe,
    * cut. (A DataFrame join→union→distinct round runs as 3–5 jobs,
    * because adaptive execution submits each query stage as its own
    * job.)
    *
    * Driver finish: when round 0's count shows at most one partition's
    * rows (the 10,000-row step below), the closure is taken to the
    * driver, and the remaining rounds run over an in-memory set —
    * closure ∪ closure⨝closure, deduplicated — with the RDD round's
    * null rules, fixpoint test and `maxRounds` counter. A driver round
    * that would grow the set past the step is dropped, and the last
    * complete round is handed back to the RDD loop, which goes on with
    * the same counter; so driver memory stays within one partition's
    * rows, and the result is row-identical to the all-RDD run, whether
    * it converged or stopped at `maxRounds`. Round 0's job brings the
    * rows back with the counts when every partition holds at most its
    * share of the step (step ÷ partitions), so the driver never
    * receives more than one step's rows; a closure within the step but
    * skewed past a share is collected by one more job, and a closure
    * above the step starts no job beyond round 0's. The choice rests on
    * the row count only, never on the partition count, so it does not
    * depend on `local[n]` or `spark.sql.shuffle.partitions`.
    *
    * The partition count follows the closure's size: one partition per
    * 10,000 rows, in power-of-two steps, capped by
    * `spark.sql.shuffle.partitions`, the default parallelism and, in
    * local mode, the JVM's processors (tasks beyond them only contend).
    * A closure only grows, so it is re-partitioned at most once per
    * step. Round 0 takes the input's partition count, under the same
    * cap. On a 4-core VM, q241's sf0.1 closure (289k pairs) ran 2–3×
    * faster in 4 partitions than in 1 or in 32.
    *
    * `keyCols` (none, or one column) PARTITIONS the closure: the join
    * key is (k, node), so paths never cross a key boundary and the
    * result keeps the key. This makes closures inside `GRAPH ?g`
    * per-graph (key = the g column): the fixpoint runs in every named
    * graph at once, without enumerating graphs driver-side.
    *
    * Nulls behave as under an `===` join: a row with a null key or term
    * stays in the closure (deduplicated, nulls equal) but never matches
    * a join key. The key column and `s`/`o` must be string columns; the
    * result has the input's `keyCols ++ (s, o)` schema. A closure that
    * finished on the driver is a local relation, whose exact size the
    * optimizer sees (a join on it can plan as a broadcast). Only a
    * closure above the step is RDD-backed and carries no size
    * statistics: a join on it plans as a shuffle join, which adaptive
    * execution can turn into a broadcast once the closure's shuffle
    * reports its size. */
  def pathPlusEdges(edges: DataFrame, maxRounds: Int = 20,
                    keyCols: Seq[String] = Nil): DataFrame =
    pointerDoubling(edges, maxRounds, keyCols, rowsPerPartition = 10000)

  private type ClosureRow = (String, String, String)
  private type ClosurePair = (ClosureRow, Null)

  /** Places a closure pair (k, s, o) by (k, s) and a join key (k, n) by
    * itself, so the closure is co-partitioned with joins on its source. */
  private final class SourcePartitioner(val numPartitions: Int)
      extends Partitioner {
    def getPartition(key: Any): Int = {
      val h = (key match {
        case (k, s, _) => (k, s)
        case kn => kn
      }).## % numPartitions
      if (h < 0) h + numPartitions else h
    }
    override def equals(other: Any): Boolean = other match {
      case p: SourcePartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** [[pathPlusEdges]] with its partition-size step as a parameter, so a
    * test can step a small closure through several partition counts and
    * across the driver finish. */
  private[graft] def pointerDoubling(edges: DataFrame, maxRounds: Int,
      keyCols: Seq[String], rowsPerPartition: Long): DataFrame = {
    require(keyCols.size <= 1,
      s"pathPlusEdges takes at most one key column, got $keyCols")
    val in = edges.select((keyCols ++ Seq("s", "o")).map(col): _*)
    require(in.schema.forall(_.dataType == StringType),
      s"pathPlusEdges needs string columns, got ${in.schema.simpleString}")
    val keyed = keyCols.nonEmpty
    val spark = in.sparkSession
    val sc = spark.sparkContext
    val cores =
      if (sc.isLocal) Runtime.getRuntime.availableProcessors else Int.MaxValue
    val cap = Seq(spark.sessionState.conf.numShufflePartitions,
      sc.defaultParallelism, cores).min
    def sizedFor(rows: Long) = {
      var n = 1L
      while (n < cap && n * rowsPerPartition < rows) n *= 2
      new SourcePartitioner(math.min(n, cap.toLong).toInt)
    }
    // Narrow on a co-partitioned input: a per-partition spillable map.
    def dedupe(pairs: RDD[ClosurePair], part: Partitioner) =
      pairs.reduceByKey(part, (_, _) => null)
    val src = in.rdd
    var part =
      new SourcePartitioner(math.max(1, math.min(cap, src.getNumPartitions)))
    // Round 0's one job cuts, counts and, when every partition holds at
    // most its share of the step, brings the rows back with the counts.
    var (acc, size, kept) = Checkpoints.cutEagerCollecting(dedupe(src.map { r =>
      if (keyed) ((r.getString(0), r.getString(1), r.getString(2)), null)
      else (("", r.getString(0), r.getString(1)), null): ClosurePair
    }.partitionBy(part), part), rowsPerPartition / part.numPartitions)
    // A closure only grows, so only round 0 can find it within one
    // partition's rows: it then finishes on the driver, until a round
    // would outgrow the step and hands its input back to the RDD loop.
    var local =
      if (size > rowsPerPartition) None
      else {
        val rows = mutable.HashSet.from(
          kept.map(_.map(_._1)).getOrElse(acc.keys.collect().toSeq))
        acc.unpersist(blocking = false)
        Some(rows)
      }
    def rddRound(): Long = {
      part = sizedFor(size)
      val cur = acc.partitionBy(part) // a no-op unless the step changed
      val left = cur.flatMap { case ((k, s, o), _) =>
        if (k != null && o != null) Some(((k, o), s)) else None }
      val right = cur.mapPartitions(_.collect {
        case ((k, s, o), _) if k != null && s != null => ((k, s), o)
      }, preservesPartitioning = true)
      val doubled = left.join(right, part)
        .map { case ((k, _), (s, o)) => ((k, s, o), null): ClosurePair }
        .partitionBy(part)
      val (next, n, _) = Checkpoints.cutEagerCollecting(
        dedupe(cur.union(doubled), part), 0L)
      acc.unpersist(blocking = false)
      acc = next
      n
    }
    var rounds = 0
    var fixed = size == 0
    while (!fixed && rounds < maxRounds) {
      val doubled = local.flatMap(doubleOnDriver(_, rowsPerPartition))
      for (rows <- local if doubled.isEmpty) // outgrew the step: hand back
        acc = sc.parallelize(rows.toSeq.map(r => (r, null): ClosurePair), 1)
      local = doubled
      val n = doubled match {
        case Some(rows) => rows.size.toLong
        case None => rddRound()
      }
      fixed = n == size
      size = n
      rounds += 1
    }
    // A partial closure looks final to every caller; pointer doubling
    // makes maxRounds=20 ample (2^20-length paths), so say so loudly.
    if (!fixed)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"pathPlusEdges did not converge within $maxRounds rounds; " +
          "the closure may be partial")
    val toRow = (t: ClosureRow) =>
      if (keyed) Row(t._1, t._2, t._3) else Row(t._2, t._3)
    local match {
      case Some(rows) =>
        spark.createDataFrame(rows.toSeq.map(toRow).asJava, in.schema)
      case None => spark.createDataFrame(acc.keys.map(toRow), in.schema)
    }
  }

  /** One doubling round on the driver, under the RDD round's null rules:
    * closure ∪ closure⨝closure, or None as soon as the set passes
    * `limit` rows — the partial round is dropped, so the caller hands
    * the last complete round to the RDD loop. */
  private def doubleOnDriver(cur: collection.Set[ClosureRow], limit: Long)
      : Option[mutable.HashSet[ClosureRow]] = {
    val bySource = cur.toSeq.collect {
      case (k, s, o) if k != null && s != null => ((k, s), o)
    }.groupMap(_._1)(_._2)
    val next = mutable.HashSet.from(cur)
    val grown = for {
      (k, s, o) <- cur.iterator if k != null && o != null
      o2 <- bySource.getOrElse((k, o), Nil)
    } yield (k, s, o2)
    while (grown.hasNext && next.size <= limit) next += grown.next()
    if (next.size <= limit) Some(next) else None
  }

  /** FILTER NOT EXISTS {?s <p> ?anything} as a left-anti join. */
  def notExists(left: DataFrame, t: DataFrame, p: String): DataFrame = {
    val ex = t.filter(col("p") === p).select(col("s").as("_ex_s"))
    left.join(ex, left("s") === col("_ex_s"), "left_anti")
  }

  /** OPTIONAL {?s <p> ?o}: left-outer join adding column `as` (null when
    * absent). `bind` optionally adds a BIND(true AS flag) on the matched
    * branch (FdpMeasure.java:55-56) — the flag is false when unmatched.
    */
  def optional(left: DataFrame, t: DataFrame, p: String, as: String,
               bindFlag: Option[String] = None,
               broadcastRight: Boolean = false): DataFrame = {
    // broadcastRight is caller-opt-in (like path's broadcastHop): the
    // predicate slice of a 100 TB triples table can itself be huge.
    val r0 = t.filter(col("p") === p).select(col("s").as("_opt_s"), col("o").as(as))
    val r = if (broadcastRight) broadcast(r0) else r0
    val joined = left.join(r, left("s") === col("_opt_s"), "left_outer")
      .drop("_opt_s")
    bindFlag match {
      case Some(f) => joined.withColumn(f, col(as).isNotNull)
      case None => joined
    }
  }

  /** VALUES inline table with UNDEF support (SURVEY.md P9, §7.4 risk 8).
    *
    * `rows` may contain nulls = UNDEF: a null cell constrains nothing. The
    * naive single join would null-compare; instead rows are grouped by
    * null-pattern, each group joins only on its non-null columns, and the
    * groups union (MultiAttributeDimension.java:38-43 has a 4-row VALUES
    * with UNDEF).
    *
    * `left` must contain all `cols`; output = left columns + all VALUES
    * columns (null where the matching row left them UNDEF).
    */
  def values(spark: SparkSession, left: DataFrame, cols: Seq[String],
             rows: Seq[Seq[String]]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      cols.map(c => org.apache.spark.sql.types.StructField(s"_v_$c",
        org.apache.spark.sql.types.StringType)))
    // SPARQL semantics of an empty VALUES block: no solutions.
    if (rows.isEmpty) {
      return cols.foldLeft(left.limit(0)) { (df, c) =>
        df.withColumn(s"_v_$c", lit(null).cast("string"))
      }
    }
    val byPattern = rows.groupBy(_.map(_ == null))
    val parts = byPattern.map { case (nullPattern, grpRows) =>
      val vdf = spark.createDataFrame(
        grpRows.map(r => org.apache.spark.sql.Row(r: _*)).asJava, schema)
      val joinCols = cols.zip(nullPattern).collect { case (c, false) => c }
      val cond = joinCols.map(c => left(c) === col(s"_v_$c"))
        .reduceOption(_ && _).getOrElse(lit(true))
      left.join(broadcast(vdf), cond)
    }
    parts.reduce(_ unionByName _)
  }

  /** The S2/A4 "scalarOf" inversion: instead of the reference's N+1
    * per-entity scalar SPARQL lookups (DcatAp11ToCkanBatch.java:627-641 run
    * ~25× per dataset), one wide aggregation produces every property as a
    * column in a single pass: groupBy(s).agg(first(when(p===X, o))).
    *
    * Missing properties default to "" exactly like QueryResults.singleResult
    * → "" (DcatAp11ToCkanBatch.java:634-639).
    */
  def scalarOf(t: DataFrame, props: Map[String, String],
               default: String = ""): DataFrame = {
    // min(), not first(): deterministic under any partitioning/ordering, so
    // results hash-compare cleanly; for single-valued properties (the
    // reference's case) it IS the single result.
    val aggs = props.toSeq.sortBy(_._2).map { case (p, as) =>
      coalesce(min(when(col("p") === p, col("o"))), lit(default)).as(as)
    }
    t.groupBy(col("s")).agg(aggs.head, aggs.tail: _*)
  }

  /** Named-graph scoping (P12): tag each graph with its name and union;
    * `fromGraph` is then an ordinary pushable filter.
    */
  def dataset(graphs: (String, DataFrame)*): DataFrame =
    graphs.map { case (name, df) => df.withColumn("g", lit(name)) }
      .reduce(_ unionByName _)
}
