package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.util.Try

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Idempotent native-function registration on the table-read path: every
    // query entry loads a table first, so call_function-based scalars
    // (url_encode, parse_num_prefix, graft_dot) always resolve. A cheap
    // registry put, NOT a session-config mutation (contrast the nanos flag
    // below, which must stay at session build).
    graft.functions.NativeExpressions.register(spark)
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")
  }

  /** `spark.read.parquet(path)` without its schema-inference job.
    * Spark's non-merging inference reads one footer (`_common_metadata`,
    * else `_metadata`, else the first data file in path order) inside a
    * Spark job; this reads the same footer on the driver, takes the
    * schema as Spark does (the row-metadata key a Spark writer stores,
    * else the session's `ParquetToSparkSchemaConverter`) and passes it
    * to `spark.read.schema`. Partition columns still come from the
    * directory names, and the table is listed once, by Spark. The
    * footer is found by a depth-first walk in path order that lists
    * only the directories on the way to the first data file; summary
    * files are looked for at the root, where parquet writers put them.
    * A path without data files, an unreadable footer and a
    * schema-merging session take the plain read, so Spark raises its
    * own errors (e.g. the `UNABLE_TO_INFER_SCHEMA` that
    * [[graft.sources.ShardStore.live]] serves from its anchor). */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val summaries = Seq("_common_metadata", "_metadata")
    // Spark's listing hides `_` and `.` names, except the summary files
    // and partition directories, and in-flight `._COPYING_` files.
    def hidden(n: String) = !summaries.exists(n.startsWith) &&
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    // A directory sorts as `name/`, so the walk meets files in the
    // order of their full path strings.
    def listed(p: Path) = fs.listStatus(p).toSeq
      .filterNot(st => hidden(st.getPath.getName))
      .sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
    def firstData(kids: Seq[FileStatus]): Option[FileStatus] = kids.iterator
      .filterNot(st => summaries.contains(st.getPath.getName))
      .flatMap(st =>
        if (st.isDirectory) firstData(listed(st.getPath)) else Some(st))
      .nextOption()
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else Try {
        val top = listed(root)
        firstData(top).map { data =>
          val footer = summaries.flatMap(n => top.find(_.getPath.getName == n))
            .headOption.getOrElse(data)
          val meta = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(footer, conf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
          Option(meta.getKeyValueMetaData
              .get("org.apache.spark.sql.parquet.row.metadata"))
            .flatMap(js => Try(DataType.fromJson(js).asInstanceOf[StructType]).toOption)
            .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
              .convert(meta.getSchema))
        }
      }.toOption.flatten
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The driver regenerates testdata between rounds and the `ts` physical
    * type has drifted before (TIMESTAMP(NANOS) → TIMESTAMP_MICROS), so sniff
    * the schema instead of assuming a layout: a LongType `ts` is epoch-nanos
    * (readable only under `spark.sql.legacy.parquet.nanosAsLong=true`) and is
    * converted to a microsecond timestamp; a native timestamp passes through.
    *
    * Nanos→micros must be integer division: epoch-nanos exceed double's
    * 53-bit mantissa, so `col/1000` (double division) is off by 1 µs on a
    * visible fraction of rows.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = parquet(spark, s"$dir/events.parquet")
    val tsFixed = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Parquet timestamp(us, isAdjustedToUTC=false) infers as NTZ in
        // Spark 4; downstream queries use unix_micros/window, which need
        // TIMESTAMP_LTZ. Session tz is UTC at every entry point, so the
        // cast is value-preserving and matches the old timestamp_micros
        // shim byte-for-byte.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    // Queries treat `props` as a JSON string (get_json_object); if a
    // regeneration ever ships it as a parquet struct, render it back —
    // path extraction is insensitive to field order/whitespace.
    tsFixed.schema("props").dataType match {
      case _: org.apache.spark.sql.types.StructType =>
        tsFixed.withColumn("props", to_json(col("props")))
      case _ => tsFixed
    }
  }
}

/** Exact-arithmetic aggregation helpers.
  *
  * Double sums are order-dependent, so a Spark sum over 32 partitions and a
  * single-threaded DuckDB oracle sum can disagree in the last ulps and break
  * hash comparison. Casting each row to a fixed-scale decimal first makes the
  * aggregation exact and order-independent in both engines; the final cast
  * back to double is then deterministic.
  */
object Exact {
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column, scale: Int = 2): Column = sum(dec(c, scale)).cast("double")

  /** DuckDB-side rendering of the same computation, e.g. dsumSql("l_quantity"). */
  def dsumSql(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"
}
