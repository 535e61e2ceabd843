package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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
    else spark.read.parquet(s"$dir/$name.parquet")
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
    val raw = spark.read.parquet(s"$dir/events.parquet")
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
