package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** JVM side of the benchmark: one closed-loop client that runs registry
  * queries (`SparkEntry.queries`) one at a time and records when each
  * call returned. `run.py` writes the config file and turns the record
  * into metrics; nothing here computes a metric.
  *
  * Config: one `key=value` per line; `pass=q1,q2,...` lines give the
  * query order of each pass (pass 0 is the cold pass).
  *
  * Modes:
  *  - `setup`: build the SparkSession, record when it was ready, stop.
  *  - `run`: setup, then every pass; the last pass also dumps each
  *    query's output for the correctness check.
  *  - `oracles`: write `SparkEntry.oracleSql` for the listed queries.
  */
object Harness {

  final case class Config(kv: Map[String, String], passes: Vector[Vector[String]]) {
    def apply(k: String): String = kv(k)
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def readConfig(path: String): Config = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toVector
      .map(_.trim).filter(_.nonEmpty)
    val (ps, rest) = lines.partition(_.startsWith("pass="))
    Config(
      rest.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap,
      ps.map(_.drop(5).split(',').toVector.filter(_.nonEmpty)))
  }

  /** Wall clock in epoch microseconds: listener and planning-tracker
    * timestamps are epoch milliseconds, so every recorded time shares
    * that clock, at nanoTime resolution. */
  private val (epochMs0, nano0) = (System.currentTimeMillis(), System.nanoTime())
  def nowUs(): Long = epochMs0 * 1000 + (System.nanoTime() - nano0) / 1000

  /** The session `graft.Bench` builds, with every directory it writes
    * inside the benchmark's work directory. A few registry rows commit
    * their stores under a fixed `/tmp/graft_*` Hadoop path; the view
    * filesystem maps `/tmp` onto `tmpRoot` so those writes stay in the
    * work directory too. Data and warehouse paths are `file:` URIs and
    * bypass the view. */
  def session(cfg: Config): SparkSession = {
    val cores = cfg("cores")
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg("warehouse"))
      .config("spark.local.dir", cfg("local"))
      .config("spark.hadoop.fs.defaultFS", "viewfs://bench/")
      .config("spark.hadoop.fs.viewfs.mounttable.bench.link./tmp",
        cfg("tmpRoot"))
      .config("spark.hadoop.fs.viewfs.mounttable.bench.linkFallback",
        "file:///")
      .getOrCreate()
  }

  def jvmStartUs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000

  def main(args: Array[String]): Unit = {
    val cfg = readConfig(args(0))
    cfg("mode") match {
      case "setup" =>
        val spark = session(cfg)
        val ready = nowUs()
        write(cfg("out"), Json.obj("ready_us" -> ready,
          "jvm_start_us" -> jvmStartUs()))
        spark.stop()
      case "run" => run(cfg)
      case "oracles" =>
        val names = cfg.passes.flatten.distinct
        write(cfg("out"), Json.obj(names.map(n =>
          n -> (SparkEntry.oracleSql.get(n).orNull: Any)): _*))
    }
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  /** Untimed between queries, the steps of `graft.Bench`'s hygiene: drop
    * cached plans and persisted RDDs, GC, and give the ContextCleaner a
    * short drain (100 ms; Bench's 250 ms is sized for sf0.1 checkpoint
    * blocks, which sf0.001 queries do not leave behind). */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    Thread.sleep(100)
  }

  /** Peak resident set of this process (VmHWM), -1 where /proc is absent. */
  def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  /** Runs `body`; the error it threw, rendered, if any. */
  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }

  def run(cfg: Config): Unit = {
    val spark = session(cfg)
    val ready = nowUs()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (cfg.flag("trace")) Some(new Tracer(spark)) else None
    val data = cfg("data")
    val checkDir = cfg.kv.get("check").filter(_.nonEmpty)
    val samples = Vector.newBuilder[String]
    val checked = Vector.newBuilder[String]
    val last = cfg.passes.size - 1
    for ((order, p) <- cfg.passes.zipWithIndex; (name, i) <- order.zipWithIndex) {
      val qid = s"p$p.$i"
      tracer.foreach(_.beforeQuery(qid))
      val t0 = nowUs()
      var t1 = -1L
      var df: DataFrame = null
      val err = attempt {
        df = SparkEntry.queries(name)(spark, data)
        t1 = nowUs()
        df.write.format("noop").mode("overwrite").save()
      }
      val t2 = nowUs()
      val probe = tracer.map(_.afterQuery()).getOrElse(Nil)
      samples += Json.obj(Seq[(String, Any)](
        "pass" -> p, "i" -> i, "name" -> name, "qid" -> qid,
        "start_us" -> t0, "build_end_us" -> (if (t1 < 0) t2 else t1),
        "end_us" -> t2, "error" -> err.orNull) ++ probe: _*)
      // Output for the correctness check, untimed and before the hygiene:
      // the last pass writes the very result it just timed, the way
      // graft.Verify writes it. A query that failed is already a failed
      // sample and has no result to write.
      if (p == last && err.isEmpty) checkDir.foreach { dir =>
        val dumpErr = attempt {
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        }
        checked += Json.obj("name" -> name, "error" -> dumpErr.orNull)
      }
      hygiene(spark)
    }
    val done = nowUs()
    val hwmKb = vmHwmKb()
    val traced = tracer.map(_.finish()).getOrElse(Nil)
    write(cfg("out"), Json.obj(Seq[(String, Any)](
      "jvm_start_us" -> jvmStartUs(), "ready_us" -> ready, "done_us" -> done,
      "cores" -> cfg("cores").toInt, "vm_hwm_kb" -> hwmKb,
      "samples" -> Json.Raw(samples.result().mkString("[", ",\n", "]")),
      "check" -> Json.Raw(checked.result().mkString("[", ",\n", "]"))) ++ traced: _*))
    spark.stop()
  }
}

/** Minimal JSON rendering for the record file (numbers, strings, null,
  * nested pre-rendered values). */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
