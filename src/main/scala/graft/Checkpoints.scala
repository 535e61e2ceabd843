package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** Lineage cut for iterative fixpoints: the property-path closure in
  * `graphquery.Bgp`, PageRank/label-prop/k-core/BFS in
  * `graphquery.Graph`, connected components in `llm.Dedup`,
  * k-means/PQ in `llm.Similarity`. Every round must materialize its
  * state, or the plan grows one join+aggregate per round and the
  * optimizer re-walks the whole history each time. The DataFrame forms
  * (`cut*`, `cutEagerObserved`) serve the DataFrame loops; the RDD form
  * `cutEagerCollecting` serves the closure's round 0 and, above one
  * partition's rows, its rounds, held as a co-partitioned pair RDD so a
  * round is one job (a smaller closure finishes on the driver, with no
  * cut after round 0), and the touched quads of a SPARQL update.
  *
  * Default is `localCheckpoint` — executor-local blocks, free of a
  * distributed filesystem, exactly right on local[n] and fine on a
  * healthy cluster. Its documented gap: the blocks are NOT
  * fault-tolerant, so on a lossy 1000-executor cluster a lost executor
  * kills the job instead of recomputing (the lineage was cut). The
  * escape hatch is the session's own checkpoint dir: call
  * `spark.sparkContext.setCheckpointDir(<reliable path>)` and every
  * iterative operator here, DataFrame and RDD forms alike, switches to
  * RELIABLE `checkpoint()` — state written to that directory,
  * lost-executor recovery re-reads it. One knob, no per-operator
  * plumbing, and the operators stay bit-identical either way (both
  * forms materialize the same rows; the sbt gate runs PageRank and the
  * fixpoint loops both ways and compares).
  *
  * Cost note for the reliable form: `Dataset.checkpoint` computes the
  * plan once more when writing the files (`cutEagerCollecting` persists
  * first, so its write re-reads blocks instead) — on a real cluster
  * prefer a fast DFS path and expect roughly 2× the per-round cost of
  * the local form. That is the standard Spark trade, not a property of
  * these operators.
  */
object Checkpoints {
  private def reliable(sc: SparkContext): Boolean =
    sc.getCheckpointDir.isDefined
  private def reliable(df: DataFrame): Boolean =
    reliable(df.sparkSession.sparkContext)

  /** Eager cut of an RDD, returned with its row count and, when small,
    * its rows, all from the one job that materializes the cut: the
    * count is a loop round's convergence scalar. Each partition returns
    * its count, and its rows when it holds at most `share` of them
    * (`share` 0 keeps none). The rows come back only if every
    * partition's did, so the driver receives at most
    * `share × partitions` rows and never a partial set. Local:
    * `localCheckpoint()` then the job. Reliable: `persist`,
    * `checkpoint()` then the job — the file write reads the persisted
    * blocks instead of computing the rows again. */
  def cutEagerCollecting[T](rdd: RDD[T], share: Long)
      : (RDD[T], Long, Option[Seq[T]]) = {
    if (reliable(rdd.sparkContext)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => {
      val kept = scala.collection.mutable.ArrayBuffer.empty[T]
      var n = 0L
      it.foreach { x => n += 1; if (n <= share) kept += x }
      (n, if (n <= share) Some(kept.toSeq) else None)
    })
    (rdd, parts.map(_._1).sum,
      if (parts.forall(_._2.isDefined)) Some(parts.toSeq.flatMap(_._2.get))
      else None)
  }

  /** Lazy lineage cut: materialized by the first action that touches it. */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Eager lineage cut: materialized now (fixpoint loops use this where
    * the round's aggregate must see materialized state). */
  def cutEager(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Eager cut that spills instead of pinning executor memory — the
    * local form of the big-intermediate checkpoints (dedup shingle
    * tables). Reliable checkpoints are files already, so the storage
    * level only applies locally. */
  def cutEagerSpill(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Eager cut with convergence metrics riding the SAME job: the
    * DataFrame fixpoint loops (connected components, BFS frontiers)
    * need one driver-side scalar per round — label sum, row count —
    * both as the convergence test and as the checkpoint materializer.
    * Running `df.count()` after a lazy cut costs a whole extra query
    * execution per round (its own AQE planning + jobs);
    * `Dataset.observe` computes the aggregates inside the checkpoint's
    * own materializing job and the listener hands them back when that
    * job completes — one execution per round, not two. Returns the cut
    * frame plus the observed metric row as a by-name map. */
  def cutEagerObserved(df: DataFrame,
                       metrics: Column*): (DataFrame, Map[String, Any]) = {
    require(metrics.nonEmpty)
    val obs = new Observation
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    val cut =
      if (reliable(df)) observed.checkpoint(eager = true)
      else observed.localCheckpoint(eager = true)
    // The eager checkpoint's withAction has already completed here, so
    // the metric event is either delivered or in flight on the listener
    // bus — `get` only waits for that delivery, never for new work.
    (cut, obs.get)
  }

  /** Postfix syntax so call sites read like the `.localCheckpoint()`
    * they replace: `df.cutLineage()` / `df.cutLineageEager()`. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(): DataFrame = cut(df)
    def cutLineageEager(): DataFrame = cutEager(df)
    def cutLineageEagerSpill(): DataFrame = cutEagerSpill(df)
  }
}
