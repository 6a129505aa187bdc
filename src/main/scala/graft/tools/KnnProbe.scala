package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.Lineage._

/** Recall sweep for [[graft.operators.Similarity.knnGraphDescent]]'s
  * bounded-init parameters (rule 9/14: floors are re-measured, never
  * guessed, when structure changes). Usage: KnnProbe <sfDir> [w,w,...]
  * — prints recall@10 vs the exact graph per initWidth. */
object KnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val widths = args.drop(1).headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(8, 16, 24, 32))
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val exact = graft.operators.Similarity.bruteForceTopK(
        emb, emb, "vec_id", "vec_id", "embedding", "embedding", 10)
      .select(col("query_id").as("src"), col("cand_id").as("dst"))
      .cut()
    val total = exact.count()
    for (w <- widths) {
      val t0 = System.nanoTime()
      val g = graft.operators.Similarity.knnGraphDescent(emb, "vec_id",
        "embedding", k = 10, numCells = 16, dim = 64, grids = 4,
        rounds = 2, initWidth = w)
      val hits = g.join(exact, Seq("src", "dst"), "left_semi").count()
      println(f"[knn] initWidth=$w recall=${hits.toDouble / total}%.4f " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    spark.stop()
  }
}
