package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** `Tables.parquet`: the schema Spark's own inference picks, read from
  * one footer on the driver without a Spark job; the plain read where
  * inference has nothing to read. */
class TablesSpec extends SparkSpec {

  /** Jobs started while `body` runs. A sentinel job, started after the
    * body, marks the end: listener events arrive in order. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = "tables-spec-sentinel"
    val started = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != sentinel).size
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Same schema and rows as `spark.read.parquet(path)`, with no job. */
  private def matchesInference(path: String): Unit = {
    var read: DataFrame = null
    assert(jobsStartedBy { read = Tables.parquet(spark, path) } == 0,
      s"$path: the footer read started a Spark job")
    val inferred = spark.read.parquet(path)
    assert(read.schema == inferred.schema, path)
    assert(rows(read) == rows(inferred), path)
  }

  private def quads: DataFrame = spark.createDataFrame(Seq(
    Row("urn:g/1", "urn:i/a", "urn:p/k", "v", false, "en", null),
    Row("urn:g/2", "urn:i/a", "urn:p/k", "urn:i/b", true, null, null),
    Row(null, "urn:i/b", "urn:p/n", "7", false, null,
      "http://www.w3.org/2001/XMLSchema#integer")).asJava,
    StructType(StructField("g", StringType) +: graft.rdf.Turtle.schema.fields))

  test("Tables.parquet: Spark's inferred schema for every test table, " +
    "quad stores and graph-partitioned stores, with no Spark job") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Tables.names.foreach(n => matchesInference(s"$sf/$n.parquet"))
    // The events loader sniffs `ts` off the footer schema.
    assert(jobsStartedBy(Tables.events(spark, sf)) == 0)
    val root = java.nio.file.Files.createTempDirectory("tables-parquet").toString
    try {
      quads.write.parquet(s"$root/flat")
      quads.repartition(2).write.partitionBy("g").parquet(s"$root/byGraph")
      matchesInference(s"$root/flat")
      matchesInference(s"$root/byGraph")
      // One schema per partition directory: the footer must be the
      // first data file in path order, where `k=1-x/` sorts before
      // `k=1/` and `k=10/`.
      quads.select("g", "s").write.parquet(s"$root/order/k=1")
      quads.select("g", "o").write.parquet(s"$root/order/k=1-x")
      quads.select("g", "p").write.parquet(s"$root/order/k=10")
      matchesInference(s"$root/order")
      assert(Tables.parquet(spark, s"$root/order").columns.toSeq == Seq("g", "o", "k"))
      assert(Tables.parquet(spark, s"$root/byGraph").columns.last == "g")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("Tables.parquet: a missing path, a table with only its schema " +
    "anchor and a schema-merging session behave as spark.read.parquet") {
    val root = java.nio.file.Files.createTempDirectory("tables-fallback").toString
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    try {
      assert(condition(Tables.parquet(spark, s"$root/absent")) ==
        condition(spark.read.parquet(s"$root/absent")))
      // ShardStore's empty state: no data file, only the `_schema`
      // anchor, which `live` serves as an empty view.
      val anchored = s"$root/anchored"
      val sample = quads.withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      graft.sources.ShardStore.writeSchemaAnchor(sample, anchored)
      assert(condition(Tables.parquet(spark, anchored)) ==
        condition(spark.read.parquet(anchored)))
      val live = graft.sources.ShardStore.live(spark, anchored)
      assert(live.schema == spark.read.parquet(s"$anchored/_schema").schema)
      assert(live.count() == 0)
      // Under mergeSchema the plain read merges every footer.
      val mixed = s"$root/mixed"
      quads.select("g", "s").write.parquet(mixed)
      quads.select("g", "o").write.mode("append").parquet(mixed)
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        val merged = Tables.parquet(spark, mixed).schema
        assert(merged == spark.read.parquet(mixed).schema)
        assert(merged.fieldNames.toSet == Set("g", "s", "o"))
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
