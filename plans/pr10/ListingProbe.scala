import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col

/** A table read on a store with many leaf directories: `spark.read.parquet`
  * (listing plus a schema-inference job), `Tables.parquet` (a walk to the
  * first data file, then Spark's listing) and `fullListing`, the earlier
  * form of `Tables.parquet` that listed the whole tree on the driver
  * before Spark listed it again. Each form runs `runs` times, alternating;
  * the median milliseconds to a resolved DataFrame and the Spark jobs it
  * started are printed.
  * Usage: ListingProbe <scratch dir> <leaf dirs> <runs> */
object ListingProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val Array(root, leaves, runs) = args
    val dir = s"$root/store"
    spark.range(leaves.toLong)
      .select(col("id").as("batch_id"), col("id").cast("string").as("v"))
      .repartition(leaves.toInt, col("batch_id"))
      .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    })
    val forms = Seq[(String, () => DataFrame)](
      "spark.read.parquet" -> (() => spark.read.parquet(dir)),
      "Tables.parquet" -> (() => graft.Tables.parquet(spark, dir)),
      "fullListing" -> (() => fullListing(spark, dir)))
    val samples = forms.map(_._1 -> Seq.newBuilder[(Double, Int)]).toMap
    (0 until runs.toInt + 1).foreach { run =>
      forms.foreach { case (name, read) =>
        val j0 = jobs
        val t0 = System.nanoTime
        read().schema
        val ms = (System.nanoTime - t0) / 1e6
        Thread.sleep(200) // listener events arrive asynchronously
        if (run > 0) samples(name) += ((ms, jobs - j0)) // run 0 warms up
      }
    }
    forms.foreach { case (name, _) =>
      val s = samples(name).result()
      val ms = s.map(_._1).sorted
      println(f"$name%-20s leaf dirs=$leaves%5s median ms=${ms(ms.size / 2)}%8.1f " +
        f"jobs per read=${s.map(_._2).max}%d")
    }
    spark.stop()
  }

  /** The earlier `Tables.parquet`: every directory listed on the driver,
    * one `listStatus` after another, then the footer of the first data
    * file (this store has no summary file). */
  def fullListing(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".")
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(st => hidden(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    val first = leaves(new Path(path)).sortBy(_.getPath.toString).head
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    val schema = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(meta.getSchema)
    spark.read.schema(schema).parquet(path)
  }
}
