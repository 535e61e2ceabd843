package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compaction lifecycle for the `batch_id=`-sharded index family (the
  * X179 exactly-once device: every micro-batch lands its summary in its
  * own partition under dynamic overwrite, so an at-least-once replay
  * overwrites exactly itself).
  *
  * The shard device is replay-safe but READ-side unbounded: a week-old
  * stream serves every dashboard read over one partition per micro-batch
  * ever run (a CMS serve reads ≤ |batches|·d·w rows; the search
  * index lists |batches| stats files). [[compact]] closes that decay
  * while PRESERVING the replay algebra:
  *
  *  - all live shards with `batch_id ≤ horizon` fold (family-supplied
  *    merge law) into ONE base shard stored at the RESERVED id
  *    `base = -(horizon + 2)` — negative, so it can never collide with
  *    a stream's batch ids (≥ 0), and horizon-unique, so successive
  *    compactions never collide with each other;
  *  - the fold is recorded by an atomically-created marker FILE under
  *    `_meta/` (a leading-underscore path — invisible to parquet
  *    partition discovery). The LIVE marker is the one with the largest
  *    horizon; stale markers are inert.
  *  - [[live]] — the read side every `*FromShards`/`*FromIndex` server
  *    goes through — keeps only `batch_id = base OR batch_id > horizon`.
  *    A pre-horizon batch REPLAYED after compaction physically re-lands
  *    its partition (the sink's dynamic overwrite is untouched) but is
  *    DROPPED on read instead of double-counting against the base that
  *    already folded it — the marker is what upgrades "overwrite
  *    yourself" to "or be ignored entirely".
  *
  * Crash ordering: the base shard is fully written BEFORE the marker is
  * created (a crash in between leaves the old view serving — the
  * half-written base partition is filtered out because no marker points
  * at it), and stale folded partitions are deleted only AFTER the
  * marker exists (a crash in between leaves dead directories that the
  * next [[compact]] sweep removes; reads never see them). No in-place
  * overwrite of the only copy ever happens — the failure mode ADVICE
  * flagged on the merge-in-place index forms.
  *
  * At 100 TB: compaction cost is one read of the live shards + the
  * family fold (summary-sized for sketches; one shuffle-free re-land
  * for posting/list shards) and runs OUT OF BAND of both the ingest
  * stream and the serving reads — the standard LSM minor-compaction
  * shape, expressed over parquet partitions.
  */
object ShardStore {

  /** The live compaction state: everything at `batch_id = base` or
    * `batch_id > horizon` is current; the rest is folded history. */
  final case class Meta(horizon: Long, base: Long)

  private val markerRe = "h(-?\\d+)_b(-?\\d+)".r

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A sketch family's merge law: it folds the stored rows ∪ a batch's
    * rows (both in the index's own layout) into the index's rows, so the
    * merged index equals a from-scratch build of everything ingested
    * (Agarwal et al., "Mergeable Summaries"). Its type says how a
    * replayed batch is survived. An IDEMPOTENT law (k smallest distinct,
    * set union, key dedup) re-folds rows it already holds to the same
    * index: at-least-once delivery is safe, and [[upsert]] serves it. */
  final case class Idempotent(law: DataFrame => DataFrame)
      extends (DataFrame => DataFrame) {
    def apply(rows: DataFrame): DataFrame = law(rows)
  }

  /** A merge law that ADDS counts: a batch folded twice counts twice.
    * Replay-safe only in the `batch_id=` shard form ([[writeShard]]: a
    * replay overwrites its own shard) or behind a ledger of merged
    * batches; [[merge]] folds one batch into an atomic index. */
  final case class Additive(law: DataFrame => DataFrame)
      extends (DataFrame => DataFrame) {
    def apply(rows: DataFrame): DataFrame = law(rows)
  }

  object Additive {
    /** The count-per-cell law: `n` sums over the `cells` columns. */
    def cellSum(cells: String*): Additive =
      Additive(_.groupBy(cells.map(col): _*).agg(sum(col("n")).as("n")))
  }

  /** Fold `batch` into the atomic index at `dir` under an additive law,
    * through the [[overwriteAtomic]] swap. The index must exist. A
    * half-swapped one (absent, a copy at `__old` or `__tmp`) fails the
    * read here and is left as it is: the recovered copy may already
    * hold this batch, and folding it again would count it twice. */
  def merge(batch: DataFrame, dir: String, law: Additive): Unit =
    fold(batch, dir, law)

  /** Fold `batch` into the atomic index at `dir` under an idempotent
    * law. A half-swapped index is recovered first ([[existsRecovered]]);
    * a missing one is initialized with `batch` itself. */
  def upsert(batch: DataFrame, dir: String, law: Idempotent): Unit =
    if (existsRecovered(batch.sparkSession, dir)) fold(batch, dir, law)
    else batch.write.mode("overwrite").parquet(dir)

  private def fold(batch: DataFrame, dir: String,
                   law: DataFrame => DataFrame): Unit =
    overwriteAtomic(
      law(graft.Tables.parquet(batch.sparkSession, dir).unionByName(batch)),
      dir)

  /** Land one micro-batch's rows in its own `batch_id=<id>` shard under
    * dynamic partition overwrite: a replayed batch overwrites exactly its
    * own shard, so additive laws never double-count under at-least-once
    * delivery, with no ledger. Schema-agnostic. */
  def writeShard(rows: DataFrame, batchId: Long, dir: String): Unit =
    overwritePartitions(rows.withColumn("batch_id", lit(batchId)), dir,
      Seq("batch_id"))

  /** Overwrite exactly the partitions (by `partitionBy`) that `df` holds,
    * leaving the table's other partitions as they are. */
  def overwritePartitions(df: DataFrame, dir: String,
                          partitionBy: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The live marker (largest horizon) of a sharded table, if any. */
  def readMeta(spark: SparkSession, dir: String): Option[Meta] = {
    val fs = fsOf(spark, dir)
    val meta = new Path(dir, "_meta")
    if (!fs.exists(meta)) None
    else fs.listStatus(meta).toSeq
      .map(_.getPath.getName)
      .collect { case markerRe(h, b) => Meta(h.toLong, b.toLong) }
      .sortBy(_.horizon).lastOption
  }

  /** The LIVE rows of a sharded table: base shard + post-horizon
    * shards. With no marker (never compacted) or no `batch_id` column
    * (a non-sharded layout like `writeIvfIndex`) this is the plain
    * read — zero behavior change until the first [[compact]].
    *
    * With NO marker, rows at `batch_id < 0` are DROPPED: negative ids
    * are reserved for compaction bases ([[compact]] writes the base
    * BEFORE its marker), so an unmarked negative shard can only be a
    * base orphaned by a first-compaction crash between the base's
    * write commit and the `_meta/` marker creation — serving it
    * alongside the original shards would double-count every folded
    * row. The marked case already excludes orphans: a base from a
    * LATER crashed compaction is negative (not `> h`) and not `b`. */
  def live(spark: SparkSession, dir: String): DataFrame = {
    val df =
      try graft.Tables.parquet(spark, dir)
      catch {
        // A table whose every shard was retired ([[graft.llm.Corpus]]
        // deleteDocs taking down the last doc) has no data files left
        // and schema inference fails — serve the EMPTY view off the
        // schema anchor instead of bricking the index. ONLY the
        // inference failure routes here: any other AnalysisException
        // (schema conflicts, type mismatches across partitions) is a
        // real error that must surface, not an empty view.
        case e: org.apache.spark.sql.AnalysisException
          if (Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
              e.getMessage.contains("Unable to infer schema")) &&
            fsOf(spark, dir).exists(new Path(dir, "_schema")) =>
            return graft.Tables.parquet(spark, s"$dir/_schema").where(lit(false))
      }
    readMeta(spark, dir) match {
      case Some(Meta(h, b)) if df.columns.contains("batch_id") =>
        df.filter(col("batch_id") === b || col("batch_id") > h)
      case None if df.columns.contains("batch_id") =>
        df.filter(col("batch_id") >= 0)
      case _ => df
    }
  }

  /** Write the 1-row all-null SCHEMA ANCHOR under `dir/_schema` (an
    * underscore path — invisible to partition discovery) if absent.
    * What keeps a sharded table READABLE at zero live shards: parquet
    * schema inference needs at least one footer, and a table whose
    * every partition was retired has none. Writers that can ever reach
    * the empty state (the search index's retire path) call this once
    * per table; one FS existence check per call afterwards. The
    * anchor's rows are never served — [[live]] reads it only behind
    * `WHERE false`. */
  def writeSchemaAnchor(sample: DataFrame, dir: String): Unit = {
    val spark = sample.sparkSession
    val fs = fsOf(spark, dir)
    val p = new Path(dir, "_schema")
    if (fs.exists(p)) return
    val schema = org.apache.spark.sql.types.StructType(
      sample.schema.fields.map(_.copy(nullable = true)))
    val row = org.apache.spark.sql.Row(schema.fields.map(_ => null)
      .toIndexedSeq: _*)
    spark.createDataFrame(java.util.List.of(row), schema)
      .write.mode("overwrite").parquet(p.toString)
  }

  private[graft] def shardIds(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") =>
        n.stripPrefix("batch_id=").toLong }
  }

  /** Overwrite a parquet index directory WITHOUT a window where the
    * sole copy is half-deleted (the r14 ADVICE failure mode of the
    * in-place merge forms: Spark's overwrite deletes `dir` first, so a
    * crash mid-write — or an executor loss dropping localCheckpoint
    * blocks — loses the accumulated index). The new content lands
    * complete at `dir__tmp`, the old copy moves aside to `dir__old`,
    * the new one renames in (both renames atomic on HDFS-like stores),
    * and only then is the old copy deleted — at every instant at least
    * one COMPLETE copy exists on disk, and a crash between the renames
    * leaves both, recoverable by renaming either back. As a bonus the
    * plan may read `dir` lazily while writing (the target differs), so
    * callers no longer need an eager lineage cut before the write. */
  def overwriteAtomic(df: DataFrame, dir: String,
                      partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, dir)
    val target = new Path(dir)
    val tmp = new Path(dir + "__tmp")
    val old = new Path(dir + "__old")
    // A previous overwrite may have crashed between its renames,
    // leaving `dir` absent with the complete copies at __old/__tmp —
    // restore BEFORE the cleanup deletes, or the accumulated index is
    // silently replaced by this batch alone.
    recoverOverwrite(spark, dir)
    fs.delete(tmp, true)
    fs.delete(old, true)
    val w = df.write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(tmp.toString)
    if (fs.exists(target)) fs.rename(target, old)
    fs.rename(tmp, target)
    fs.delete(old, true)
  }

  /** Crash recovery for [[overwriteAtomic]]: if `dir` is ABSENT but a
    * complete copy survives at `dir__tmp` (fully written — `_SUCCESS`
    * present — meaning the crash hit between the two renames) or at
    * `dir__old` (the displaced previous copy), rename it back into
    * place.
    *
    * `_SUCCESS` DEPENDENCY: completeness of `__tmp` is judged by the
    * committer's `_SUCCESS` marker. Under
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` a fully
    * written swap is indistinguishable from a partial one, so recovery
    * conservatively rolls back to `__old` — correct data, just the
    * pre-rewrite copy (a crashed compactTable redoes its fold on the
    * next trigger; an upsert sink replays the batch). Preferring a
    * marker-less `__tmp` when `__old` is absent would be WRONG: that
    * state also arises when the very FIRST overwrite of a new dir
    * crashes mid-write, and restoring its partial output would serve
    * truncated data as if complete. Keep the marker enabled (Spark's
    * default) for stores maintained by this protocol. Upsert callers MUST route their "does the index exist yet?"
    * check through this (they do, via [[existsRecovered]]): a bare
    * `fs.exists` would read the half-swapped state as "no index yet"
    * and silently reinitialize from the current batch alone, and the
    * next overwrite's cleanup would then delete the stranded
    * accumulated copy. Returns whether `dir` exists afterwards. */
  def recoverOverwrite(spark: SparkSession, dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    val target = new Path(dir)
    val tmp = new Path(dir + "__tmp")
    val old = new Path(dir + "__old")
    if (!fs.exists(target)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        fs.rename(tmp, target)   // newer complete copy: finish the swap
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        fs.rename(old, target)   // roll back to the previous copy
        fs.delete(tmp, true)
      }
    }
    fs.exists(target)
  }

  /** The exists-check every [[overwriteAtomic]]-maintained index's
    * upsert path uses to decide merge-vs-initialize: recover a
    * half-swapped overwrite first, then report whether a non-empty
    * index is on disk. */
  def existsRecovered(spark: SparkSession, dir: String): Boolean =
    recoverOverwrite(spark, dir) &&
      fsOf(spark, dir).listStatus(new Path(dir)).nonEmpty

  /** Fold every live shard up to the current maximum batch id into one
    * base shard under the family's merge law, record the new horizon,
    * and drop the folded partitions. `fold` receives the live rows
    * WITHOUT the `batch_id` column and must return the same schema the
    * sinks write (plus `extraPartCols`, which stay partition columns of
    * the base — `_tb` for postings, `_cid` for vector lists). Returns
    * the new state, or None when there was nothing to fold. */
  def compact(spark: SparkSession, dir: String,
              fold: DataFrame => DataFrame = identity,
              extraPartCols: Seq[String] = Nil,
              toHorizon: Option[Long] = None): Option[Meta] = {
    val old = readMeta(spark, dir)
    val oldH = old.map(_.horizon).getOrElse(Long.MinValue)
    val oldB = old.map(_.base)
    val ids = shardIds(spark, dir)
    val liveStream = ids.filter(i => i >= 0 && i > oldH)
    // The horizon this run establishes. With toHorizon (the
    // multi-table coherence contract): fold ONLY shards at or below
    // it — ids ABOVE it stay live stream shards (they belong to
    // batches the caller has not accounted complete; a replay will
    // overwrite them in place). Without it: everything live folds.
    val hNew = toHorizon.getOrElse(
      if (liveStream.isEmpty) Long.MinValue else liveStream.max)
    if (hNew <= oldH) {
      // Nothing to fold — but a PREVIOUS compact may have crashed
      // between its marker creation and its delete sweep, leaving dead
      // folded partitions (reads never see them; storage does). Sweep
      // them here so a no-op compact on an idle table still reclaims
      // the dead directories, as the lifecycle contract promises.
      old.foreach { m => sweepStale(spark, dir, m.horizon, m.base) }
      return None
    }
    val bNew = -(hNew + 2)
    val foldable = liveStream.filter(_ <= hNew)
    val baseHasData = oldB.exists(ids.contains)
    if (foldable.isEmpty && !baseHasData) {
      // Horizon ADVANCE over an empty table (no stream shard at or
      // below the target, no existing base): nothing can be lost —
      // the marker alone moves, pointing at the (absent, hence empty)
      // new base id, so later replays of ids ≤ hNew drop on read.
      val fs = fsOf(spark, dir)
      fs.mkdirs(new Path(dir, "_meta"))
      fs.createNewFile(new Path(dir, s"_meta/h${hNew}_b$bNew"))
      sweepStale(spark, dir, hNew, bNew)
      return Some(Meta(hNew, bNew))
    }
    // The fold input: the base plus stream shards AT OR BELOW the new
    // horizon (negative base ids always pass the ≤ filter). When only
    // the base exists (pure alignment), this RE-LANDS the base at the
    // new reserved id — never a marker pointing at a base with a
    // foreign horizon's id, which would desync sibling tables folding
    // to -(h+2) and break the retire path's cross-table batch_id keying.
    val cur = live(spark, dir)
      .filter(col("batch_id").cast("long") <= hNew)
    val folded = graft.Checkpoints.cutEager(
      fold(cur.drop("batch_id")).withColumn("batch_id", lit(bNew)))
    overwritePartitions(folded, dir, "batch_id" +: extraPartCols)
    // Marker AFTER the base is durable, BEFORE the stale deletes.
    val fs = fsOf(spark, dir)
    fs.mkdirs(new Path(dir, "_meta"))
    fs.createNewFile(new Path(dir, s"_meta/h${hNew}_b$bNew"))
    sweepStale(spark, dir, hNew, bNew)
    Some(Meta(hNew, bNew))
  }

  /** The compaction TRIGGER the lifecycle was missing: fold only when
    * the live post-horizon shard count exceeds `maxShards`, otherwise
    * touch nothing (one directory listing — safe to call every
    * micro-batch; the sinks' `autoCompact` knob does exactly that).
    * The threshold is the read-amplification bound an operator
    * accepts: serving reads scan ≤ `maxShards` stream shards plus one
    * base between compactions, and compaction cost amortizes to
    * 1/maxShards of the fold per batch. Returns the new state when a
    * fold ran, None when below threshold. */
  def compactIfNeeded(spark: SparkSession, dir: String, maxShards: Int,
                      fold: DataFrame => DataFrame = identity,
                      extraPartCols: Seq[String] = Nil): Option[Meta] =
    if (aboveShardThreshold(spark, dir, maxShards))
      compact(spark, dir, fold, extraPartCols)
    else None

  /** THE trigger predicate — one implementation shared by
    * [[compactIfNeeded]], the streaming sinks' `autoCompact` wrapper,
    * and the search index's multi-table trigger (which thresholds on
    * one table and compacts all coherently). */
  def aboveShardThreshold(spark: SparkSession, dir: String,
                          maxShards: Int): Boolean = {
    require(maxShards >= 1, "maxShards must be >= 1")
    liveStreamShardCount(spark, dir) > maxShards
  }

  /** Live post-horizon stream shards on disk — the read-amplification
    * count [[compactIfNeeded]] thresholds on. One directory listing;
    * multi-table indexes (the search index) threshold on one table and
    * compact all coherently. */
  def liveStreamShardCount(spark: SparkSession, dir: String): Int = {
    val oldH = readMeta(spark, dir).map(_.horizon).getOrElse(Long.MinValue)
    shardIds(spark, dir).count(i => i >= 0 && i > oldH)
  }

  /** Small-files compaction for ANY plain parquet table directory —
    * the operational decay mode the `batch_id=` lifecycle does not
    * cover: a long-lived append sink (or a heavily over-partitioned
    * one-shot write) leaves the table file-open-bound long before it
    * is byte-bound, and at 100 TB a scan of 10⁶ kilobyte files loses
    * to the same bytes in 10³ files by orders of magnitude. Rewrites
    * the table into ~ceil(bytes / targetBytes) files through the
    * [[overwriteAtomic]] swap: rows bit-identical, at every instant
    * one COMPLETE copy on disk, a crash at any point recovered by
    * [[recoverOverwrite]] on the next touch. `partitionKeep` preserves
    * a partitioned layout (rows cluster by the keys before the write,
    * so each partition directory's files merge within the partition
    * and partition pruning survives). Returns (filesBefore,
    * filesAfter), or None when the table is already at or below the
    * target file count — safe to call on a schedule. For
    * `batch_id=`-sharded INDEX stores use [[compact]] instead: this
    * form folds no merge law and keeps every row.
    */
  def compactTable(spark: SparkSession, dir: String,
                   targetBytes: Long = 128L << 20,
                   partitionKeep: Seq[String] = Nil): Option[(Int, Int)] = {
    if (!recoverOverwrite(spark, dir)) return None
    val fs = fsOf(spark, dir)
    def files(): (Int, Long, Int) = {
      val it = fs.listFiles(new Path(dir), true)
      var n = 0
      var bytes = 0L
      val leafDirs = scala.collection.mutable.Set[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          n += 1; bytes += f.getLen
          leafDirs += f.getPath.getParent.toString
        }
      }
      (n, bytes, leafDirs.size)
    }
    val (nBefore, bytes, leafDirs) = files()
    // A partitioned layout can never drop below one file per leaf
    // partition directory — the no-op floor is max(byte target, leaf
    // count), or every scheduled run would rewrite the whole table
    // while changing nothing.
    val targetFiles = math.max(
      math.max(1L, (bytes + targetBytes - 1) / targetBytes),
      if (partitionKeep.isEmpty) 1L else leafDirs.toLong).toInt
    if (nBefore <= targetFiles) return None
    val df = graft.Tables.parquet(spark, dir)
    val packed =
      if (partitionKeep.isEmpty) df.repartition(targetFiles)
      else df.repartition(targetFiles,
        partitionKeep.map(org.apache.spark.sql.functions.col): _*)
    overwriteAtomic(packed, dir, partitionKeep)
    Some((nBefore, files()._1))
  }

  /** Delete every partition the live view at (horizon, base) can never
    * read: folded stream shards (`0 ≤ id ≤ horizon`) and superseded or
    * orphaned negative bases (`id < 0, id ≠ base`). */
  private def sweepStale(spark: SparkSession, dir: String,
                         horizon: Long, base: Long): Unit = {
    val fs = fsOf(spark, dir)
    (shardIds(spark, dir).toSet - base)
      .filter(i => (i >= 0 && i <= horizon) || i < 0)
      .foreach(i => fs.delete(new Path(dir, s"batch_id=$i"), true))
  }
}
