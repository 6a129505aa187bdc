package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.Lineage._

/** Measures q179's recall@10 with raw-vector vs residual (classic
  * IVFADC) PQ codes on the real gate corpus — the re-measurement the
  * round-6 verdict asked for before flipping the q179 gate to
  * `residual = true` (CLAUDE.md rule 9: re-measure before
  * re-flooring). PERF lesson 18 predicts residual is WORSE here: the
  * synthetic embeddings cluster weakly (x·c ≈ 0.3), so the residual
  * ‖x−c‖ is larger than ‖x‖ and the code budget buys less.
  * Usage: tools/run.sh graft.tools.ResidualProbe [sfDir...]
  */
object ResidualProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity
    for (dir <- dirs) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id",
          "embedding", "embedding", 10)
        .select(col("query_id"), col("cand_id")).cut()
      val nExact = exact.count()
      for (res <- Seq(false, true)) {
        val t0 = System.nanoTime()
        val ann = Similarity.ivfPqTopK(q, e, "vec_id", "vec_id",
            "embedding", "embedding",
            k = 10, numCells = 16, nProbe = 8, m = 8, ksub = 64, dim = 64,
            iters = 2, rerank = 100, residual = res)
          .select(col("query_id"), col("cand_id"))
        val hits = ann.join(exact, Seq("query_id", "cand_id")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"$dir residual=$res recall@10 = ${hits.toDouble / nExact}%.4f " +
          f"($hits/$nExact) in $dt%.1f s")
      }
    }
    spark.stop()
  }
}
