package graft.graphquery

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The WRITE-HEAVY SPARQL UPDATE path — the delta-staged layout the
  * administrative path ([[Sparql.update]]) prices itself against.
  *
  * [[Sparql.update]] rewrites the whole store per operation (atomic
  * swap, complete copy on disk at every instant) — right for codelist
  * patches and takedowns, wrong for a store taking updates all day: at
  * 100 TB a one-statement patch must not cost a 100 TB rewrite. This
  * store makes every UPDATE statement cost O(statement), not O(store):
  *
  * {{{
  *   dir/base | dir/base_v<N>   quad parquet (absent = empty); version
  *                              pointed at by the _base_v marker —
  *                              compaction writes a FRESH version and
  *                              flips the pointer, never renaming a
  *                              live base's files
  *   dir/delta/delta_id=N/      one dir per committed STATEMENT:
  *                              quad cols + op (1 = add, 0 = quad
  *                              tombstone, 2 = graph-cover tombstone)
  * }}}
  *
  * Commit protocol: a statement's (adds, tombstones) write to
  * `dir/delta/_tmp_N` (a `_`-prefixed dir — invisible to Spark's
  * partition discovery), then a single atomic rename to `delta_id=N`
  * publishes it. A crash leaves only an invisible `_tmp_*` orphan,
  * swept by the next writer; a reader never sees a partial delta.
  *
  * Serve-time fold ([[serve]]): presence of a quad = its LAST op is an
  * add, or it is in the base and untouched/uncovered. One hash
  * aggregate over the quad-op deltas (`max(struct(delta_id, op))` —
  * within one statement add outranks tombstone, the §3.1.3
  * delete-before-insert survival rule) + one anti-join against the
  * base, plus a statement-count-bounded GRAPH-op cover list (CLEAR/
  * DROP/COPY/MOVE tombstones are O(1) rows, never store-sized). Serve
  * cost grows with the DELTA pile, which is what [[compact]] bounds:
  * fold deltas ≤ horizon into a FRESH base version and flip the
  * `_base_v` pointer (never renaming a live base's files), with
  * physical deletion of old versions AND folded deltas DEFERRED one
  * compact cycle. Serve reads ONLY deltas above the `_horizon` — the
  * folded ones are inside the pointed base, so a reader's pinned
  * listing (one base version + the unfolded suffix) survives a full
  * compact cycle by construction; the pinned-serve spec case proves
  * it by executing a pre-compaction plan after the compact.
  *
  * Single-writer per store, ENFORCED (not just documented): same-JVM
  * writers serialize on `Sparql.withStoreLock`; cross-process writers on
  * the `_writer` TTL lease ([[writerLeaseTtlMs]]) — the id allocation
  * (`max + 1`) is the collision point the lease closes. Concurrent
  * serves are safe given compactions spaced further apart than the
  * longest-running query (the deferred-vacuum retention contract).
  * A statement's delta is [[Sparql.statementDelta]], the interpretation
  * the administrative path applies: DELETE WHERE / modify / CLEAR /
  * CREATE / ADD/COPY/MOVE match against the CURRENT folded view, so
  * tombstones are exact quads — the fold never re-runs a pattern.
  */
object DeltaStore {

  import Sparql.{QuadCols, UpdateOp, GraphTarget, OneGraph, DefaultGraph,
    AllNamed, AllGraphs}

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---------------------------------------- cross-process writer lease
  // The same discipline the search index's `_writing` staging lease
  // proved (Corpus.scala): the in-JVM store lock cannot see a
  // second PROCESS, and two processes allocating `max + 1` ids would
  // stage into the SAME `_tmp_<id>` dir — corruption, not just a lost
  // race. The `_writer` lease makes the single-writer contract
  // enforced: a second writer with a fresh lease fails loudly; a lease
  // older than the TTL is a crashed writer's — swept and taken over.
  // The lease is REFRESHED after every committed statement, so a long
  // update script never outlives it; the residual window (two
  // processes acquiring within one FS metadata round-trip on a
  // rename-only filesystem) matches the search index's documented
  // contract. A writer crash blocks other PROCESSES for at most one
  // TTL — the recovery-latency/safety tradeoff every file lease makes.

  /** Cross-process writer lease TTL on `$dir/_writer`. Test hook. */
  private[graft] var writerLeaseTtlMs: Long = 60L * 60 * 1000L

  private def leasePath(dir: String) = new Path(s"$dir/_writer")

  private def leaseToken(fs: org.apache.hadoop.fs.FileSystem,
                         p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Acquire the store's writer lease; returns the unique token.
    * Fails loudly while another process's lease is fresh. */
  private def acquireLease(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    val p = leasePath(dir)
    fs.mkdirs(new Path(dir))
    if (fs.exists(p)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime
      require(age > writerLeaseTtlMs,
        s"$dir: another process holds the writer lease ($p, " +
          s"age ${age}ms ≤ TTL ${writerLeaseTtlMs}ms) — this store is " +
          "single-writer; retry after the holder finishes or its lease " +
          "expires")
      fs.delete(p, false) // crashed writer's stale lease
    }
    val token = java.util.UUID.randomUUID().toString
    createLeaseFile(fs, p, dir, token)
    token
  }

  /** create(overwrite = false): a concurrent acquisition tie — two
    * processes both passing the stale check and racing delete+create —
    * loses LOUDLY instead of silently double-writing, surfaced as the
    * same "writer lease" IllegalArgumentException the fresh-lease
    * reject throws, so [[graft.sources.Maintenance.runAll]]'s
    * busy-skip reports a takeover tie as busy rather than aborting
    * the whole janitor sweep. Test hook (the tie itself cannot be
    * staged deterministically from outside). */
  private[graft] def createLeaseFile(fs: org.apache.hadoop.fs.FileSystem,
                                     p: Path, dir: String,
                                     token: String): Unit = {
    val out =
      try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalArgumentException(
            s"$dir: another process holds the writer lease ($p, " +
              "acquired concurrently during a stale-lease takeover) — " +
              "this store is single-writer; retry after the holder " +
              "finishes or its lease expires")
      }
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Refresh = full rewrite (mtime moves on every FileSystem, incl.
    * object stores whose setTimes is a no-op). Requires the lease to
    * still be ours — a takeover after a false-stale sweep aborts HERE,
    * before the next statement publishes. */
  private def refreshLease(spark: SparkSession, dir: String,
                           token: String): Unit = {
    val fs = fsOf(spark, dir)
    checkLease(spark, dir, token)
    val out = fs.create(leasePath(dir), true)
    try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def checkLease(spark: SparkSession, dir: String,
                         token: String): Unit = {
    val held = leaseToken(fsOf(spark, dir), leasePath(dir))
    if (!held.contains(token))
      throw new IllegalStateException(
        s"$dir: writer lease lost (held=${held.getOrElse("<none>")}) — " +
          "a concurrent process swept it as stale; aborting before " +
          "publishing anything further; retry the operation")
  }

  private def releaseLease(spark: SparkSession, dir: String,
                           token: String): Unit = {
    val fs = fsOf(spark, dir)
    if (leaseToken(fs, leasePath(dir)).contains(token))
      fs.delete(leasePath(dir), false)
  }

  /** Runs `body(token)` as the store's one writer: under the same-JVM
    * store lock and the cross-process lease, released even on failure. */
  private def asWriter(spark: SparkSession, dir: String)
                      (body: String => Unit): Unit =
    Sparql.withStoreLock(dir) {
      val token = acquireLease(spark, dir)
      try body(token)
      finally releaseLease(spark, dir, token)
    }

  // ------------------------------------------------- versioned base
  // The base is VERSIONED (`base` = version 0, the init/legacy layout;
  // `base_v<N>` thereafter), with a `_base_v` pointer marker: compact
  // writes the NEXT version into a fresh directory and flips the
  // pointer, so a concurrent serve pinned on the previous version's
  // file paths keeps reading intact files — an in-place swap would
  // RENAME them away, which no retention period can fix. Old versions
  // (≤ current - 1) are swept on the NEXT compact, the same one-cycle
  // grace as the deltas.

  private def baseVersion(spark: SparkSession, dir: String): Long = {
    val fs = fsOf(spark, dir)
    val p = new Path(s"$dir/_base_v")
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private def basePath(dir: String, v: Long): String =
    if (v == 0L) s"$dir/base" else s"$dir/base_v$v"

  private def writeBaseVersion(spark: SparkSession, dir: String,
                               v: Long): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(s"$dir/_base_v__tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(new Path(s"$dir/_base_v"), false)
    require(fs.rename(tmp, new Path(s"$dir/_base_v")),
      s"base version marker rename failed: $dir")
  }

  private def baseDf(spark: SparkSession, dir: String): DataFrame = {
    val v = baseVersion(spark, dir)
    val path = basePath(dir, v)
    // Version 0 may have been written by overwriteAtomic-era code —
    // keep its half-swap heal; versioned dirs are write-once.
    val exists =
      if (v == 0L) graft.sources.ShardStore.existsRecovered(spark, path)
      else fsOf(spark, dir).exists(new Path(path))
    if (exists) Sparql.readQuads(spark, path)
    else Sparql.emptyQuads(spark)
  }

  /** Committed delta ids, ascending (dir listing — `_tmp_*` orphans
    * and anything else non-matching are ignored). */
  private def deltaIds(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val root = new Path(s"$dir/delta")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("delta_id=") =>
        n.stripPrefix("delta_id=").toLong }
      .sorted
  }

  private val deltaSchema = StructType(
    Sparql.quadSchema.fields :+ StructField("op", IntegerType))

  /** A graph cover's on-disk scope name, in the `s` slot of its op-2
    * row (a named graph's IRI goes in `g`). */
  private def scopeName(t: GraphTarget): String = t match {
    case OneGraph(_) => "graph"
    case DefaultGraph => "default"
    case AllNamed => "named"
    case AllGraphs => "all"
  }

  private def coverOf(scope: String, g: String): GraphTarget =
    Seq(OneGraph(g), DefaultGraph, AllNamed, AllGraphs)
      .find(scopeName(_) == scope)
      .getOrElse(sys.error(s"unknown cover scope $scope"))

  private def deltaDf(spark: SparkSession, dir: String, above: Long,
                      upTo: Option[Long]): Option[DataFrame] = {
    val ids = deltaIds(spark, dir).filter(_ > above)
    val live = upTo.map(h => ids.filter(_ <= h)).getOrElse(ids)
    if (live.isEmpty) None
    // Read the delta dirs explicitly (basePath recovers delta_id as a
    // column) so a compact's horizon is exact even if new deltas land
    // between the listing and the read; the fixed schema reads no footer.
    else Some(spark.read.schema(deltaSchema).option("basePath", s"$dir/delta")
      .parquet(live.map(i => s"$dir/delta/delta_id=$i"): _*))
  }

  /** The folded view: base minus touched/covered quads, plus quads
    * whose LAST op survives. `upTo` bounds the deltas folded
    * (compaction's horizon); None folds everything committed.
    *
    * Two tombstone kinds fold together:
    *  - QUAD ops (op 0 = delete, 1 = add): one hash aggregate
    *    `max(struct(delta_id, op))` per touched quad — within one
    *    statement add outranks tombstone (the §3.1.3
    *    delete-before-insert survival rule).
    *  - GRAPH ops (op 2 — CLEAR/DROP and the clear half of COPY/MOVE,
    *    O(1) rows each: scope in the `s` slot, target graph in `g`):
    *    a row is COVERED by the latest graph op matching its graph;
    *    base rows die under any cover, a quad add survives iff its
    *    delta_id ≥ the cover (≥, not >: COPY/MOVE clear and re-add in
    *    the SAME statement). The graph-op list is statement-count-
    *    bounded (and compaction clears it) — collected to the driver
    *    and COMPILED into the cover expression: pure codegen'd
    *    conditionals, no join of any kind.
    */
  private def folded(spark: SparkSession, dir: String,
                     upTo: Option[Long] = None): DataFrame =
    // Only deltas ABOVE the horizon are read: everything at or below
    // it is already inside the pointed base version, so re-reading the
    // retained copies would (a) waste work and (b) PIN soon-to-be-
    // swept files into reader plans — the failure the versioned base
    // exists to prevent. (One crash window still double-applies: a
    // compact that flipped the base pointer but died before the
    // horizon write; re-applying folded deltas is a fixpoint, so the
    // view stays correct until the retried compact heals the marker.)
    deltaDf(spark, dir, readHorizon(spark, dir), upTo) match {
      case None => baseDf(spark, dir)
      case Some(d) =>
        val base = baseDf(spark, dir)
        val qops = d.filter(col("op") <= 1)
        // The graph-op cover list is statement-count-bounded by
        // construction (one row per CLEAR/DROP/COPY/MOVE since the
        // last compact) — collect it to the driver and COMPILE it into
        // the cover expression: pure codegen'd conditionals, no
        // cross join, and the common all-quad-ops case pays nothing
        // (cov folds to the -1 literal).
        val gops = d.filter(col("op") === 2)
          .select(col("s"), col("g"), col("delta_id").cast("long"))
          .collect().map(r => (coverOf(r.getString(0), r.getString(1)),
            r.getLong(2)))
        val cov: Column = gops.foldLeft(lit(-1L)) { case (acc, (t, id)) =>
          greatest(acc, when(Sparql.covered(t), lit(id)).otherwise(lit(-1L)))
        }
        val last = qops.groupBy(QuadCols.map(col): _*)
          .agg(max(struct(col("delta_id").cast("long").as("delta_id"),
            col("op"))).as("_m"))
        val base2 = Sparql.antiQuads(base,
            last.select(QuadCols.map(col): _*))
          .filter(cov === -1L)
        val adds2 = last.filter(col("_m.op") === 1 &&
          col("_m.delta_id") >= cov)
        base2.select(QuadCols.map(col): _*)
          .unionByName(adds2.select(QuadCols.map(col): _*))
    }

  /** Current store contents (the read surface — feed it to
    * [[Sparql.select]] / [[Sparql.construct]] etc. as a quad input). */
  def serve(spark: SparkSession, dir: String): DataFrame =
    folded(spark, dir)

  /** Apply a SPARQL UPDATE script; each `;`-separated statement
    * commits as ONE delta dir (O(statement) written, never a store
    * rewrite). Same grammar, validation, sequencing, and SILENT
    * semantics as [[Sparql.update]]. */
  def update(spark: SparkSession, dir: String, text: String): Unit = {
    val ops = Sparql.validatedOps(text)
    asWriter(spark, dir) { token =>
      val fs = fsOf(spark, dir)
      val root = new Path(s"$dir/delta")
      fs.mkdirs(root)
      // Sweep crashed writers' invisible staging dirs (ours is the
      // only live lease — anything staged belongs to a dead writer).
      fs.listStatus(root).foreach { st =>
        if (st.getPath.getName.startsWith("_tmp_")) fs.delete(st.getPath, true)
      }
      ops.foreach { op =>
        try commitOne(spark, dir, op, token)
        catch { case _: Exception if Sparql.silentOf(op) => () }
        // Keep the lease fresh across a long script: one rewrite per
        // committed statement, so the TTL bounds writer SILENCE, not
        // script length.
        refreshLease(spark, dir, token)
      }
    }
  }

  /** One statement → one delta dir holding [[Sparql.statementDelta]]:
    * its touched quads as op 1/0 rows and each graph cover as ONE op-2
    * row, never a store-sized tombstone set (the O(statement) contract
    * holds for CLEAR/DROP too; the adds of COPY/MOVE are O(source
    * graph), which is the data actually moving). The folded view is
    * built only for the statements that match against it, so each sees
    * its predecessors' effects exactly like the administrative path. A
    * provable no-op commits nothing. */
  private def commitOne(spark: SparkSession, dir: String,
                        op: UpdateOp, token: String): Unit =
    Sparql.statementDelta(spark, folded(spark, dir), op).foreach { d =>
      // One delta row per distinct touched quad, not per solution;
      // within one delta the fold ranks add over tombstone — the
      // delete-before-insert survival rule.
      val quads =
        if (d.built == Sparql.Instantiated) d.touched.distinct() else d.touched
      val fs = fsOf(spark, dir)
      // Monotonic ids across compactions: folded deltas eventually
      // delete, but the horizon marker keeps their ids retired forever —
      // id reuse would let a fresh delta fall inside the next compact's
      // deferred-delete range before surviving a grace cycle.
      val id = math.max(deltaIds(spark, dir).lastOption.getOrElse(-1L),
        readHorizon(spark, dir)) + 1
      // Token-suffixed staging: even if two processes ever reached here
      // with the same id (a lease-takeover race), their staging dirs
      // cannot collide and the loser's PUBLISH rename fails loudly on
      // the existing target.
      val tmp = new Path(s"$dir/delta/_tmp_${id}_$token")
      val fin = new Path(s"$dir/delta/delta_id=$id")
      import scala.jdk.CollectionConverters._
      val coverRows = spark.createDataFrame(d.covers.map { t =>
        Row(t match { case OneGraph(i) => i; case _ => null }, scopeName(t),
          null, null, null, null, null, 2) }.asJava, deltaSchema)
      val rows = quads.select(QuadCols.map(col) :+
          when(col("_add"), lit(1)).otherwise(lit(0)).as("op"): _*)
        .unionByName(coverRows)
      rows.write.mode("overwrite").parquet(tmp.toString)
      // Publish gate: the lease must still be ours — a writer whose
      // lease was swept as stale (paused past the TTL) aborts HERE with
      // only an invisible staging dir on disk, never a half-trusted
      // delta.
      checkLease(spark, dir, token)
      require(fs.rename(tmp, fin), s"delta publish rename failed: $fin")
    }

  private def horizonPath(dir: String) = new Path(s"$dir/_horizon")

  /** Last compaction's fold horizon (-1 before the first compact). */
  private def readHorizon(spark: SparkSession, dir: String): Long = {
    val fs = fsOf(spark, dir)
    val p = horizonPath(dir)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private def writeHorizon(spark: SparkSession, dir: String, h: Long): Unit = {
    val fs = fsOf(spark, dir)
    val tmp = new Path(s"$dir/_horizon__tmp")
    val out = fs.create(tmp, true)
    try out.write(h.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(horizonPath(dir), false)
    require(fs.rename(tmp, horizonPath(dir)),
      s"horizon marker rename failed: $dir")
  }

  /** Fold all committed deltas into the base; physically DELETE only
    * deltas already folded by the PREVIOUS compact (the `_horizon`
    * marker) — a vacuum-style grace period of one full compact cycle,
    * so a concurrent serve whose plan pinned the delta listing keeps
    * readable files. Re-folding retained-but-folded deltas is a
    * fixpoint (quad ops: their adds are already in the base, their
    * tombstones already absent; graph ops: any base row a retained
    * graph-op covers was re-established by a retained quad-add with a
    * HIGHER id — fold order guarantees it — and ascending-id deletion
    * removes the suppressor before its re-adder, so even a mid-delete
    * listing folds correctly). Operators should space compactions
    * further apart than their longest-running query — the same
    * retention contract every deferred-vacuum table format documents.
    * Crash-safe at every point: the fresh base version is unpointed
    * until the marker flips (a crashed attempt is swept by the next
    * compact); a crash before the sweeps or the horizon write just
    * retries the grace cycle. No-op when no deltas exist — an idle
    * store may retain one superseded base version until the next
    * compaction with actual work. */
  def compact(spark: SparkSession, dir: String,
              partitionBy: Seq[String] = Nil): Unit =
    asWriter(spark, dir)(compactLocked(spark, dir, partitionBy, _))

  private def compactLocked(spark: SparkSession, dir: String,
                            partitionBy: Seq[String],
                            token: String): Unit = {
    {
      val ids = deltaIds(spark, dir)
      if (ids.isEmpty) return
      val fs = fsOf(spark, dir)
      val hPrev = readHorizon(spark, dir)
      val v = baseVersion(spark, dir)
      // Nothing NEW above the horizon → sweep-only tick: retire the
      // grace-period leftovers (old base versions, folded deltas)
      // without rewriting the base — a scheduled janitor must not pay
      // a full store rewrite on a converged store, and once the
      // leftovers are gone the next tick is a byte-identical no-op.
      val freshWork = ids.exists(_ > hPrev)
      if (freshWork) {
        // Versioned base flip: write the fold into a FRESH directory
        // and swing the pointer — never rename the live base's files
        // out from under a pinned reader. A crashed previous attempt
        // left an unpointed base_v dir; sweep it first (single writer
        // holds the lock, nothing points at it).
        val vNew = v + 1
        fs.delete(new Path(basePath(dir, vNew)), true)
        val w = folded(spark, dir, Some(ids.last)).write.mode("overwrite")
        (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
          .parquet(basePath(dir, vNew))
        // Pointer-flip gate: the fold was a long Spark job — if the
        // lease was swept meanwhile, the fresh base_v dir is unpointed
        // garbage (the next compact sweeps it) and nothing published.
        checkLease(spark, dir, token)
        writeBaseVersion(spark, dir, vNew)
      }
      // Grace sweeps — everything readers could have pinned BEFORE the
      // previous compact: base versions BELOW the PRE-flip version `v`
      // (a version superseded by THIS tick's flip must survive one
      // more cycle for its pinned readers) and deltas ≤ the previous
      // horizon (ascending, so a mid-delete listing loses a cover
      // before the adds that outrank it).
      fs.listStatus(new Path(dir)).foreach { st =>
        val n = st.getPath.getName
        val ver =
          if (n == "base") Some(0L)
          else if (n.startsWith("base_v"))
            n.stripPrefix("base_v").toLongOption
          else None
        if (ver.exists(_ < v)) fs.delete(st.getPath, true)
      }
      ids.filter(_ <= hPrev).sorted.foreach { i =>
        fs.delete(new Path(s"$dir/delta/delta_id=$i"), true)
      }
      if (freshWork && ids.last > hPrev) writeHorizon(spark, dir, ids.last)
    }
  }

  /** Auto-compact TRIGGER (the X236 one-listing threshold discipline,
    * now uniform across every store family): fold only when the
    * UNFOLDED delta suffix — deltas above the horizon, the rows
    * [[serve]] actually re-reads per query — exceeds `maxDeltas`;
    * below it, one directory listing plus one marker read, never a
    * base rewrite. The threshold is the read-amplification bound an
    * operator accepts between janitor ticks: serve scans ≤ `maxDeltas`
    * statement deltas plus one base. Retained-but-folded deltas (the
    * grace copies) don't count — they are inside the pointed base and
    * serve never reads them. Returns whether a compact ran. */
  def compactIfNeeded(spark: SparkSession, dir: String,
                      maxDeltas: Int = 8,
                      partitionBy: Seq[String] = Nil): Boolean = {
    require(maxDeltas >= 1, "maxDeltas must be >= 1")
    val h = readHorizon(spark, dir)
    if (deltaIds(spark, dir).count(_ > h) > maxDeltas) {
      compact(spark, dir, partitionBy); true
    } else false
  }
}
