import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints the executed plan of every parquet write into a store's __tmp
  * swap directory (the update commit) during the second run of each
  * named query. Usage: PlanProbe <sfDir> <query...> */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var on = false
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val p = qe.executedPlan.toString
        if (on && p.contains("__tmp")) {
          // AQE numbers its query stages from 0; the result stage is last.
          val created = "ResultQueryStage (\\d+)".r.findFirstMatchIn(p)
            .map(_.group(1).toInt + 1).getOrElse(-1)
          val kept = "(ShuffleQueryStage|BroadcastQueryStage)".r.findAllIn(p).size
          println(s"=== $f: $created query stages created, $kept in the final plan\n" +
            p.replaceAll("/tmp/graft_q\\d+_\\d+", "<store>")
              .replaceAll("#\\d+", "#n").replaceAll("file:/[^\\],]*testdata/", "<testdata>/"))
        }
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    args.drop(1).foreach { n =>
      graft.SparkEntry.queries(n)(spark, args(0)).write.format("noop").mode("overwrite").save()
      on = true
      graft.SparkEntry.queries(n)(spark, args(0)).write.format("noop").mode("overwrite").save()
      Thread.sleep(1000)
      on = false
    }
    spark.stop()
  }
}
