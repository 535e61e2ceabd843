package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test run). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Managed tables (bucketed dedup/IVF indexes) land in /tmp, not the
      // repo working directory.
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-warehouse-${ProcessHandle.current().pid()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with a checkpoint dir set on the context: every
    * iterative operator's lineage cut then switches from executor-local
    * blocks to RELIABLE checkpoint files (graft.Checkpoints) — the
    * cluster fault-tolerance form. Asserts that files were actually
    * written, then clears the dir so later suites keep the default
    * local form. */
  protected def withReliableCheckpoints[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val result = body
      // The reliable path actually ran: checkpoint files exist.
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
      result
    } finally {
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
