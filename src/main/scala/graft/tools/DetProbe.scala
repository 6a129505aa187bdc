package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.Lineage._

/** Reproducer for the concurrent-shared-lambda nondeterminism
  * (CLAUDE.md rule 17): training PQ codebooks over a frame whose plan
  * contains an interpreted zip_with lambda gives DIFFERENT models
  * run-to-run when the 8 subspace trainings run concurrently — the
  * lambda's NamedLambdaVariable is mutable shared state. Sequential
  * training over the same plan is deterministic; so is concurrent
  * training over a localCheckpoint-materialized frame (the
  * ivfPqTopK fix). */
object DetProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (0 until 800).map { i =>
      val c = i % 4
      val v = Array.fill(64)(0.0f)
      v(c * 16) = 1.0f
      v((i * 7) % 64) += 0.05f + (i % 11) * 0.003f
      v((i * 13) % 64) += 0.04f
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    import graft.operators.Similarity
    val c1 = Similarity.trainCentroids(df, "embedding", 4, 2, 64)
    val cv = df.select(col("vec_id").as("cand_id"), Similarity.normalized(col("embedding")).as("cv"))
    val centsLit = array(c1.map(c => array(c.map(lit(_)): _*)): _*)
    val enc = cv.withColumn("cell", graft.functions.VectorFunctions.vec_mat_argmax(col("cv"), c1))
      .withColumn("ev", zip_with(col("cv"), element_at(centsLit, col("cell") + 1), (a, b) => a - b))
      .select(col("ev"))
    // per-subspace sequential double-train
    for (j <- 0 until 8) {
      val s1 = Similarity.euclideanCentroids(enc.select(slice(col("ev").cast("array<double>"), j * 8 + 1, 8).as("v")), "v", 16, 2, 8)
      val s2 = Similarity.euclideanCentroids(enc.select(slice(col("ev").cast("array<double>"), j * 8 + 1, 8).as("v")), "v", 16, 2, 8)
      println(s"j=$j sequential equal: " + (s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq))
    }
    // fix #1 (r6): materialize first, then concurrent training is stable
    val mat = enc.cut()
    val m1 = Similarity.pqTrainCodebooks(mat, "ev", 8, 16, 64, 2, preNormalized = true)
    val m2 = Similarity.pqTrainCodebooks(mat, "ev", 8, 16, 64, 2, preNormalized = true)
    println("materialized concurrent books equal: " +
      (m1.map(_.map(_.toSeq).toSeq).toSeq == m2.map(_.map(_.toSeq).toSeq).toSeq))
    // fix #2 (r7, the structural one): the native codegen'd VecSub has
    // no lambda state at all — concurrent training over the SHARED
    // un-materialized plan must now be deterministic. This is the
    // regression test for the hazard class itself.
    val encNative = cv
      .withColumn("cell", graft.functions.VectorFunctions.vec_mat_argmax(col("cv"), c1))
      .withColumn("ev", graft.functions.VectorFunctions.vec_sub(
        col("cv"), element_at(centsLit, col("cell") + 1)))
      .select(col("ev"))
    val n1 = Similarity.pqTrainCodebooks(encNative, "ev", 8, 16, 64, 2, preNormalized = true)
    val n2 = Similarity.pqTrainCodebooks(encNative, "ev", 8, 16, 64, 2, preNormalized = true)
    val nativeOk = n1.map(_.map(_.toSeq).toSeq).toSeq == n2.map(_.map(_.toSeq).toSeq).toSeq
    println("native vec_sub UNMATERIALIZED concurrent books equal: " + nativeOk)
    // and VecSub matches the zip_with arithmetic bit-for-bit
    val diff = cv.limit(200)
      .withColumn("cell", graft.functions.VectorFunctions.vec_mat_argmax(col("cv"), c1))
      .withColumn("a", graft.functions.VectorFunctions.vec_sub(
        col("cv"), element_at(centsLit, col("cell") + 1)))
      .withColumn("b", zip_with(col("cv"), element_at(centsLit, col("cell") + 1),
        (x, y) => x - y))
      .filter(not(col("a") <=> col("b"))).count()
    println("vec_sub == zip_with on all rows: " + (diff == 0))
    if (!nativeOk || diff != 0) { spark.stop(); sys.exit(1) }
    // also raw exact ev values stable?
    val e1 = enc.select(expr("cast(ev as array<double>)")).collect().map(_.getSeq[Double](0)).sortBy(_.hashCode)
    val e2 = enc.select(expr("cast(ev as array<double>)")).collect().map(_.getSeq[Double](0)).sortBy(_.hashCode)
    println("ev multiset equal: " + (e1.map(_.sum).sum == e2.map(_.sum).sum && e1.length == e2.length))
    spark.stop()
  }
}
