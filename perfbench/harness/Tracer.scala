package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, all from outside the program: a
  * `SparkListener` for jobs, stages and tasks, a `QueryExecutionListener`
  * for the planning tracker's phases, `CodeGenerator`/`CodegenMetrics`
  * for codegen, and JVM MXBeans for GC and heap. Listener events are
  * kept in memory and rendered once, in `finish`. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val QidKey = "perfbench.qid"
  private val MB = 1024.0 * 1024.0

  private val jobs = mutable.ArrayBuffer[String]()
  private val stages = mutable.ArrayBuffer[String]()
  private val executions = mutable.ArrayBuffer[String]()
  private val jobStart = mutable.Map[Int, (Long, String, Seq[Int])]()
  private val stageSubmit = mutable.Map[(Int, Int), (Long, String)]()
  // per stage attempt: tasks ended, summed launch wait (ms), failed tasks
  private val taskAcc = mutable.Map[(Int, Int), Array[Long]]()

  private def qidOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(QidKey))).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = (e.time, qidOf(e.properties), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val (t0, qid, sids) = jobStart.getOrElse(e.jobId, (e.time, null, Nil))
      jobs += Json.obj("id" -> e.jobId, "qid" -> qid, "start_ms" -> t0,
        "end_ms" -> e.time, "stages" -> sids,
        "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        (si.submissionTime.getOrElse(System.currentTimeMillis()), qidOf(e.properties))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val key = (e.stageId, e.stageAttemptId)
      val acc = taskAcc.getOrElseUpdate(key, Array(0L, 0L, 0L))
      acc(0) += 1
      stageSubmit.get(key).foreach { case (t, _) =>
        acc(1) += math.max(0L, e.taskInfo.launchTime - t) }
      if (!e.taskInfo.successful) acc(2) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      val (submit, qid) = stageSubmit.getOrElse(key,
        (si.submissionTime.getOrElse(0L), null))
      val acc = taskAcc.remove(key).getOrElse(Array(0L, 0L, 0L))
      val m = Option(si.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      // A stage belongs to the latest job that lists it: a stage id is
      // submitted by at most one running job at a time.
      val job = jobStart.collect { case (j, (_, _, s)) if s.contains(si.stageId) => j }
        .foldLeft(-1)(math.max)
      stages += Json.obj(
        "id" -> si.stageId, "attempt" -> si.attemptNumber(), "job" -> job,
        "qid" -> qid, "submit_ms" -> submit,
        "end_ms" -> si.completionTime.getOrElse(submit),
        "tasks" -> acc(0), "wait_ms" -> acc(1), "task_failures" -> acc(2),
        "run_ms" -> metric(_.executorRunTime),
        "cpu_ns" -> metric(_.executorCpuTime),
        "gc_ms" -> metric(_.jvmGCTime),
        "shuffle_write_b" -> metric(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_b" -> metric(_.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> metric(_.shuffleReadMetrics.fetchWaitTime),
        "spill_b" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        "input_b" -> metric(_.inputMetrics.bytesRead),
        "input_rows" -> metric(_.inputMetrics.recordsRead),
        "output_b" -> metric(_.outputMetrics.bytesWritten),
        "output_rows" -> metric(_.outputMetrics.recordsWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, failed = false)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, failed = true)
  }

  /** Rows a write consumed: the write node's own `numOutputRows` (file
    * writes have one), else the rows its input plan produced, read from
    * the nearest node that counts them through operators that neither
    * drop nor add rows. -1 when no such count exists. */
  private def writeRows(qe: QueryExecution): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange._
    def rows(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value).orElse(p match {
        case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
        case q: QueryStageExec => rows(q.plan)
        case r: ReusedExchangeExec => rows(r.child)
        case u: UnionExec =>
          val rs = u.children.map(rows)
          if (rs.forall(_.isDefined)) Some(rs.flatten.sum) else None
        case _: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec |
             _: ColumnarToRowExec | _: SortExec | _: ShuffleExchangeExec |
             _: AQEShuffleReadExec | _: CoalesceExec =>
          rows(p.children.head)
        case _ => None
      })
    val root = qe.executedPlan
    root.metrics.get("numOutputRows").map(_.value)
      .orElse(root.children.headOption.flatMap(rows)).getOrElse(-1L)
  }

  private def record(func: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> Json.Raw(s"[${v.startTimeMs},${v.endTimeMs}]") }
    val rows = writeRows(qe)
    synchronized {
      executions += Json.obj("func" -> func, "phases" -> phases,
        "rows" -> rows, "failed" -> failed)
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
  private var before = (0L, 0L, 0L)

  def beforeQuery(qid: String): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    before = (gcMs(), CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    sc.setLocalProperty(QidKey, qid)
  }

  /** Per-query probes, sampled when the query returns and before the
    * untimed hygiene, so state the query left behind still shows. */
  def afterQuery(): Seq[(String, Any)] = {
    sc.setLocalProperty(QidKey, null)
    val (gc0, cg0, cgn0) = before
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Seq(
      "gc_ms" -> (gcMs() - gc0),
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / MB,
      "codegen_ns" -> (CodeGenerator.compileTime - cg0),
      "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgn0),
      "persistent_rdds" -> sc.getPersistentRDDs.size,
      "cached_mb" -> cached / MB)
  }

  /** Waits for the listener bus to deliver every event, then renders. */
  def finish(): Seq[(String, Any)] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      Seq("jobs" -> Json.Raw(jobs.mkString("[", ",\n", "]")),
        "stages" -> Json.Raw(stages.mkString("[", ",\n", "]")),
        "executions" -> Json.Raw(executions.mkString("[", ",\n", "]")))
    }
  }
}
