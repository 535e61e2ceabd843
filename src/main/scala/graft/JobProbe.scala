package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Job/stage/task counter for named queries (guide §1: measure first —
  * the fixpoint rows' cost at small SF is scheduling overhead, so the
  * unit that matters is jobs and stages per query, not bytes). Runs
  * each matching query twice through the bench's noop sink (first run
  * warms codegen) and prints the SECOND run's job/stage/task counts and
  * seconds.
  *
  * Usage: runMain graft.JobProbe <nameSubstring...>
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val verbose = sys.env.get("SPARK_GRAFT_PROBE_VERBOSE").contains("1")
    val jobStartNs =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // The result stage has the job's highest stage id and carries
        // the action's call site (`count`, `collect`, `save`).
        val name = j.stageInfos.maxByOption(_.stageId)
          .map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        jobStartNs.put(j.jobId, (System.nanoTime(), name))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd)
      : Unit = if (verbose) Option(jobStartNs.get(e.jobId)).foreach {
        case (t0, name) => println(
          f"  JOB ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%8.0f us  $name")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.contains))
    names.foreach { n =>
      run(n) // warmup
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc(); Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0)
      val sec = run(n)
      Thread.sleep(500) // drain the listener bus
      println(f"PROBE $n%-28s jobs=${jobs.get}%3d stages=${stages.get}%4d " +
        f"tasks=${tasks.get}%6d sec=$sec%6.2f")
    }
    spark.stop()
  }
}
