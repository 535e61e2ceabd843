// Closure partition-count experiment: times the keyed closure of q241's
// two forests (customer keys 1..n, parent = key div 2 and key div 3) under
// several partition counts and shuffle serializers, all in one JVM. Not
// part of the build; to run it, copy it into src/main/scala/graft and
//   sbt "runMain graft.ClosureExp local[32] 32 15000 3 df j4 j32 k1 k2 k4"
// (master, spark.sql.shuffle.partitions, n, repetitions after one warm-up,
// variants). Variants: `df` is the DataFrame round loop the pair-RDD loop
// replaced; `jN` the pair-RDD loop at N fixed partitions with the default
// (Java) serializer and a spillable per-partition dedupe; `kN` the same
// with Kryo on every shuffle; `khN` Kryo with an in-memory hash set as the
// dedupe.
package graft

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{CoGroupedRDD, RDD, ShuffledRDD}
import org.apache.spark.serializer.{KryoSerializer, Serializer}
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3.{finalizeHash, mix}

object ClosureExp {
  final class SrcPart(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val h = key match {
        case (k, s, _) => finalizeHash(mix(mix(0x3c074a61, k.##), s.##), 2)
        case (k, n) => finalizeHash(mix(mix(0x3c074a61, k.##), n.##), 2)
      }
      val m = h % numPartitions
      if (m < 0) m + numPartitions else m
    }
    override def equals(o: Any): Boolean = o match {
      case p: SrcPart => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  type P = ((String, String, String), Null)

  def closureRdd(edges: DataFrame, keyCols: Seq[String], sizing: (Int, Long) => Int,
                 kryo: Boolean, hashSet: Boolean, maxRounds: Int = 20, verbose: Boolean = false): DataFrame = {
    val in = edges.select((keyCols ++ Seq("s", "o")).map(col): _*)
    val keyed = keyCols.nonEmpty
    val ser: Serializer = if (kryo) new KryoSerializer(in.sparkSession.sparkContext.getConf) else null
    def shuffle[K: ClassTag, V: ClassTag](r: RDD[(K, V)], part: Partitioner): RDD[(K, V)] = {
      val sh = new ShuffledRDD[K, V, V](r, part)
      if (ser != null) sh.setSerializer(ser)
      sh
    }
    def dedupe(r: RDD[P], part: Partitioner): RDD[P] =
      if (hashSet) r.mapPartitions({ it =>
        val seen = new java.util.HashSet[(String, String, String)]
        it.filter(x => seen.add(x._1)) }, preservesPartitioning = true)
      else r.reduceByKey(part, (_, _) => null)
    val src = in.rdd
    var part: Partitioner = new SrcPart(sizing(src.getNumPartitions, -1L))
    var (acc, size) = Checkpoints.cutEagerCounted(dedupe(shuffle(src.map { r =>
      if (keyed) ((r.getString(0), r.getString(1), r.getString(2)), null)
      else (("", r.getString(0), r.getString(1)), null)
    }, part), part))
    if (verbose) println(s"  round0 size=$size parts=${part.numPartitions}")
    var rounds = 0
    var fixed = size == 0
    while (!fixed && rounds < maxRounds) {
      part = new SrcPart(sizing(part.numPartitions, size))
      val cur = if (acc.partitioner.contains(part)) acc else shuffle(acc, part)
      val left = cur.flatMap { case ((k, s, o), _) =>
        if (k != null && o != null) Some(((k, o), s)) else None }
      val right = cur.mapPartitions(_.collect {
        case ((k, s, o), _) if k != null && s != null => ((k, s), o) },
        preservesPartitioning = true)
      val cg = new CoGroupedRDD[(String, String)](Seq(left, right), part)
      if (ser != null) cg.setSerializer(ser)
      val doubled = cg.flatMap { case ((k, _), Array(ls, rs)) =>
        for (s <- ls.iterator; o <- rs.iterator)
          yield ((k, s.asInstanceOf[String], o.asInstanceOf[String]), null): P }
      val (next, n) = Checkpoints.cutEagerCounted(dedupe(cur.union(shuffle(doubled, part)), part))
      acc.unpersist(blocking = false)
      acc = next
      fixed = n == size
      size = n
      rounds += 1
      if (verbose) println(s"  round$rounds size=$size parts=${part.numPartitions}")
    }
    in.sparkSession.createDataFrame(acc.map { case ((k, s, o), _) =>
      if (keyed) Row(k, s, o) else Row(s, o) }, in.schema)
  }

  def closureDf(edges: DataFrame, keyCols: Seq[String], maxRounds: Int = 20): DataFrame = {
    val out = keyCols ++ Seq("s", "o")
    def cutCounted(df: DataFrame): (DataFrame, Long) = {
      val (cut, m) = graft.Checkpoints.cutEagerObserved(df, count(lit(1)).as("n"))
      (cut, m("n").asInstanceOf[Long])
    }
    var (acc, size) = cutCounted(edges.select(out.map(col): _*).distinct())
    var rounds = 0
    var fixed = size == 0
    while (!fixed && rounds < maxRounds) {
      val right = acc.select(keyCols.map(k => col(k).as(s"_k$k")) ++
        Seq(col("s").as("_m"), col("o").as("_o2")): _*)
      val cond = keyCols.foldLeft(col("o") === col("_m")) {
        (c, k) => c && col(k) === col(s"_k$k")
      }
      val doubled = acc.join(right, cond)
        .select(keyCols.map(col) ++ Seq(col("s"), col("_o2").as("o")): _*)
      val (acc2, n) = cutCounted(acc.unionByName(doubled).distinct())
      acc = acc2
      fixed = n == size
      size = n
      rounds += 1
    }
    acc.select(out.map(col): _*)
  }

  def main(args: Array[String]): Unit = {
    val master = args(0)
    val shuf = args(1)
    val ns = args(2).split(",").map(_.toLong)
    val reps = args(3).toInt
    val only = args.drop(4).toSet
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shuf)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cap = math.min(shuf.toInt, spark.sparkContext.defaultParallelism)
    def fixedP(p: Int): (Int, Long) => Int = (_, _) => p
    def rows(r: Long): (Int, Long) => Int = (prev, n) =>
      if (n < 0) math.min(cap, prev)
      else math.min(cap, math.max(1L, (n + r - 1) / r)).toInt
    def rdd(name: String): DataFrame => DataFrame = {
      val kryo = name.startsWith("k")
      val hs = name.contains("h")
      val p = name.dropWhile(!_.isDigit).toInt
      (e: DataFrame) => closureRdd(e, Seq("g"), fixedP(p), kryo, hs)
    }
    val variants: Seq[(String, DataFrame => DataFrame)] = only.toSeq.sorted.map { n =>
      n -> (if (n == "df") ((e: DataFrame) => closureDf(e, Seq("g"))) else rdd(n)) }
    for (n <- ns) {
      def forest(div: Int, g: String) = spark.range(div, n + 1, 1, 2).select(
        lit(g).as("g"), concat(lit("urn:c/"), col("id")).as("s"),
        concat(lit("urn:c/"), expr(s"id div $div")).as("o"))
      val edges = forest(2, "urn:graph/half").unionByName(forest(3, "urn:graph/third"))
      closureRdd(edges, Seq("g"), rows(100000), true, false, verbose = true).count()
      val times = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
      var counts = Map[String, Long]()
      for (rep <- 0 until reps + 1; (name, f) <- variants) {
        val t0 = System.nanoTime()
        val c = f(edges).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (rep > 0) times(name) = times(name) :+ dt
        counts += name -> c
      }
      for ((name, _) <- variants) {
        val ts = times(name).sorted
        println(f"EXP $master%-10s n=$n%7d $name%-6s rows=${counts(name)}%8d median=${ts(ts.size / 2)}%6.2f all=${ts.map(t => f"$t%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
