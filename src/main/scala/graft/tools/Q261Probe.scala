package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.Lineage._

/** q261 plan-fix probe (round 10, verdict item 1).
  *
  * `stats` mode: the corpus-shape facts behind the fix — media count,
  * DISTINCT dhash count, giant-component scale, and the max 16-bit
  * chunk-bucket size over the distinct-hash frame (the number that
  * decides whether signaturePairs' cap can bite after the collapse).
  *
  * `time` mode: fresh-JVM isolated timing (rule 13) of the current
  * q261 implementation, 3 consecutive runs.
  */
object Q261Probe {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "stats"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "stats") {
      for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
        val ph = graft.operators.Multimodal
          .phashTable(graft.operators.Multimodal.mediaTable(spark, dir))
          .toDF().select(col("media_id"), col("dhash"))
        val nMedia = ph.count()
        val distinctH = ph.select(col("dhash")).distinct()
        val nHash = distinctH.count()
        val maxChunk = distinctH
          .select(posexplode(array((0 until 4).map(c =>
            shiftright(col("dhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
          .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).collect()(0).getLong(0)
        println(s"[probe] $dir: media=$nMedia distinct_dhash=$nHash max_chunk_bucket=$maxChunk")
      }
    } else if (mode == "stages") {
      val dir = "/root/testdata/sf0.1"
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s -> $r")
        r
      }
      val ph = graft.operators.Multimodal
        .phashTable(graft.operators.Multimodal.mediaTable(spark, dir))
        .toDF().select(col("media_id"), col("dhash"))
      t("phash count")(ph.count())
      val reps = ph.groupBy(col("dhash")).agg(min(col("media_id")).as("rep"))
        .persist()
      t("reps count")(reps.count())
      val pairs = graft.operators.Dedup.signaturePairs(
          reps.select(col("rep").as("media_id"), col("dhash").as("sig")),
          "media_id", maxHamming = 3, maxBucket = 4096)
        .select(col("id_a"), col("id_b")).persist()
      t("pairs count")(pairs.count())
      t("cc minlabel rows")(graft.operators.Dedup
        .connectedComponents(pairs, "id_a", "id_b").count())
      t("cc alternating rows")(graft.operators.Dedup
        .connectedComponentsAlternating(pairs, "id_a", "id_b").count())
      // inline min-label + pointer-jump loop with per-round timing
      locally {
        val edges = pairs
          .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
          .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
          .distinct().cut()
        var labels = edges.select(col("src").as("id")).distinct()
          .withColumn("cluster", col("id")).cut()
        var iter = 0
        var changed = 1L
        while (changed > 0 && iter < 20) {
          val t0 = System.nanoTime()
          val nbrMin = edges
            .join(labels.select(col("id").as("dst"), col("cluster").as("nbr")), Seq("dst"))
            .groupBy(col("src")).agg(min(col("nbr")).as("nbr_min"))
          val hop = labels
            .join(nbrMin.select(col("src").as("id"), col("nbr_min")), Seq("id"), "left_outer")
            .select(col("id"),
              least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"),
              (col("nbr_min") < col("cluster")).as("ch"))
          val next = hop
            .join(hop.select(col("id").as("cluster"), col("cluster").as("pc")),
              Seq("cluster"), "left_outer")
            .select(col("id"),
              least(col("cluster"), coalesce(col("pc"), col("cluster"))).as("cluster"),
              (col("ch") || (col("pc") < col("cluster"))).as("ch"))
            .cut()
          changed = next.filter(col("ch")).count()
          labels = next.select(col("id"), col("cluster"))
          iter += 1
          println(f"[probe] cc round $iter: ${(System.nanoTime() - t0) / 1e9}%.2f s changed=$changed")
        }
      }
    } else {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        val df = graft.queries.Pipeline
          .q261PhashCanonical(spark, "/root/testdata/sf0.1")
        val t1 = System.nanoTime()
        val n = df.collect().length
        println(f"[probe] q261 run $i: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
          f"(build ${(t1 - t0) / 1e9}%.1f, collect ${(System.nanoTime() - t1) / 1e9}%.1f; $n rows)")
      }
    }
    spark.stop()
  }
}
