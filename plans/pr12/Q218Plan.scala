import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Q218Plan {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args(1))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.toString.split("\n")
          .filter(l => l.contains("FileScan") && l.contains("/codes"))
          .foreach(l => println("SCAN " + l.trim.replaceAll("Location: [^,]*,", "")))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    for (i <- 1 to 2)
      graft.SparkEntry.queries("q218_ivfpq_indexed")(spark, args(0))
        .write.format("noop").mode("overwrite").save()
  }
}
