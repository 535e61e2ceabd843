package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Diagnostic: candidate-pair volume per SimHash geometry — the number
  * the banded self-join must hamming-verify, i.e. the Σ C(bucket,2) term
  * the geometry choice controls. Run against a ScaleProbe replica dir to
  * see each geometry's chance-collision load at a given corpus size
  * (SCALE.md "three-decade probe" reads these beside the wall times: the
  * 64-bit form's candidates grow ~n²/2¹⁶ per band, the 128-bit form's
  * stay at true-duplicate volume).
  *
  * Usage: runMain graft.CandidateProbe <documentsDir>
  */
object CandidateProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf100")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()

    // Band slices come from the join itself, so the counts printed here
    // are the candidates simhashNearDups would verify.
    def candidates(bits: Int): Long =
      Dedup.simhash(docs, "doc_id", "text", bits)
        .localCheckpoint(true)
        .select(posexplode(array(Dedup.simhashBandSlices(bits, bands = 4): _*))
          .as(Seq("_band", "_slice")))
        .groupBy(col("_band"), col("_slice"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2"))).head().getLong(0)

    for (bits <- Seq(64, 128))
      println(s"CANDS simhash${bits}_${bits / 4}bit docs=$n " +
        s"candidates=${candidates(bits)}")
    spark.stop()
  }
}
