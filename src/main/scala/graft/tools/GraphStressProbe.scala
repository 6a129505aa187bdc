package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.Lineage._

/** Isolated re-measurement of the round-7 graph stress phases (the
  * full ScaleStress harness carries 2-3× phase-order noise — PERF
  * lesson 14b): label propagation + weighted pagerank over the same
  * 80-edges-per-vertex hashed graph ScaleStress builds at ×100
  * (40 M directed edges, 1k-hub planted skew). Usage:
  * tools/run.sh graft.tools.GraphStressProbe [nVertices] */
object GraphStressProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val edgesPerV = 80
    val edges = spark.range(n).select(col("id").as("src"),
        explode(array((0 until edgesPerV).map(i =>
          pmod(xxhash64(col("id"), lit(i + 100)),
            lit(if (i == 0) 1024L else n))): _*)).as("dst"))
      .repartition(32).cut()
    val m = edges.count()
    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[gprobe] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s ($rows rows)")
    }
    timed(s"label propagation (2 rounds, $m edges)")(
      graft.operators.Graph.labelPropagation(edges, "src", "dst", rounds = 2).count())
    timed(s"weighted pagerank (3 iters, $m edges)")(
      graft.operators.Graph.pageRankWeightedFixed(
        edges.withColumn("w", pmod(xxhash64(col("src"), col("dst")), lit(1000L)) + 1),
        "src", "dst", "w", iters = 3).count())
    spark.stop()
  }
}
