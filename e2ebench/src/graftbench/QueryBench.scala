package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pass of a query workload in a fresh JVM.
  *
  * Usage: `QueryBench <sfDir> <warmDir> <q1,q2,...> <trace 0|1> <outJson>
  *   <spansFile> <warmVerifyDir> <sfVerifyDir | -> [count]`
  *
  * Setup (untimed) is the warmup: `graft.Verify` runs every query of
  * the list once against `warmDir` and dumps its output to
  * `warmVerifyDir` for the DuckDB oracle (`tools/check.py`). A query
  * that fails there is logged by Verify and fails its oracle check, so
  * no warmup failure is swallowed. Verify stops its session, which
  * drops every session-scoped memo, and the timed pass gets a new
  * session.
  *
  * The timed pass runs every query once, in the given order, against
  * `sfDir`: `fn(spark, dir)` (build) followed by
  * `.write.format("noop").mode("overwrite").save()` (exec), which
  * computes every output column and writes nothing.
  *
  * With trace 1 the pass also forces `queryExecution.executedPlan`
  * between build and exec (plan: Catalyst's phase times come from its
  * tracker), collects Spark metrics per job group `<query>:build|plan|exec`
  * through a listener, and keeps spans that are written to `spansFile`.
  * With the trailing `count` argument every query is also timed under
  * `.count()` right after its noop run (the count-to-noop transition
  * record).
  *
  * After the timed pass and its outputs are written, unless
  * `sfVerifyDir` is `-`, `graft.Verify` dumps every query's output at
  * the timed scale to `sfVerifyDir` for the oracle. It runs in the
  * timed pass's session (so over the memos that pass built) and stops
  * it.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, warmDir, namesArg, traceArg, outJson, spansFile, warmVerifyDir,
      sfVerifyDir) = args.take(8)
    val timeCount = args.lift(8).contains("count")
    val trace = traceArg == "1"
    val names = namesArg.split(",").toSeq.filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("GRAFTBENCH_CPUS", "4")
    val runId = Option(System.getenv("GRAFTBENCH_RUN_ID")).getOrElse("run")
    val spans = new Spans(runId, trace)
    val out = Json.obj()

    val registry = graft.SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[e2ebench] unknown queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }

    // graft.Verify takes its core count from SPARK_GRAFT_CPUS
    spans("warmup")(graft.Verify.main(Array(warmDir, warmVerifyDir, names.mkString(","))))
    val spark = spans("session") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val collector = new ExecCollector
    if (trace) sc.addSparkListener(collector)

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val readyMs = System.currentTimeMillis()
    val perQuery = Json.arr()
    val windows = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val t0 = System.nanoTime()
    spans("timed") {
      names.foreach { name =>
        val q = perQuery.addObject()
        q.put("name", name)
        spans(name) {
          try {
            sc.setJobGroup(s"$name:build", name)
            val b0 = System.nanoTime()
            val df = spans("build")(registry(name)(spark, sfDir))
            val b1 = System.nanoTime()
            q.put("build_s", (b1 - b0) / 1e9)
            if (trace) {
              sc.setJobGroup(s"$name:plan", name)
              spans("plan")(df.queryExecution.executedPlan)
              q.put("plan_s", (System.nanoTime() - b1) / 1e9)
              val phases = df.queryExecution.tracker.phases
              Seq("analysis", "optimization", "planning").foreach { p =>
                q.put(s"${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
              }
            }
            sc.setJobGroup(s"$name:exec", name)
            val e0 = System.nanoTime(); val w0 = System.currentTimeMillis()
            spans("exec")(noop(df))
            q.put("exec_s", (System.nanoTime() - e0) / 1e9)
            windows(name) = (w0, System.currentTimeMillis())
            if (timeCount) {
              sc.setJobGroup(s"$name:count", name)
              val c0 = System.nanoTime()
              df.count()
              q.put("count_s", (System.nanoTime() - c0) / 1e9)
            }
          } catch { case e: Throwable =>
            System.err.println(s"[e2ebench] $name failed: $e")
            q.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          } finally sc.clearJobGroup()
        }
      }
    }
    out.put("wall_s", (System.nanoTime() - t0) / 1e9)
    out.put("ready_epoch_ms", readyMs)
    out.put("peak_rss_mb", Rss.peakMb())
    out.set("queries", perQuery)

    if (trace) {
      collector.awaitQuiet()
      perQuery.forEach { q =>
        val name = q.get("name").asText()
        val o = q.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        o.set("build", collector.report(s"$name:build"))
        o.set("exec", collector.report(s"$name:exec", windows.get(name)))
      }
      // one table-read resolution (`spark.read.parquet` = file listing +
      // footer schema), median of 5 per table the sf directory holds
      val tables = Option(new java.io.File(sfDir).list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).sorted
      val resolve = Json.obj()
      spans("sources.resolve") {
        tables.foreach { t =>
          val ms = (1 to 5).map { _ =>
            val r0 = System.nanoTime()
            spark.read.parquet(s"$sfDir/$t")
            (System.nanoTime() - r0) / 1e6
          }.sorted
          resolve.put(t.stripSuffix(".parquet"), ms(2))
        }
      }
      out.set("resolve_ms", resolve)
    }

    spans.write(spansFile)
    Json.write(outJson, out)
    if (sfVerifyDir == "-") spark.stop()
    else graft.Verify.main(Array(sfDir, sfVerifyDir, names.mkString(",")))
  }
}
