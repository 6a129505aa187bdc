package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.server.{GraftServer, Wire}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader}
import scala.jdk.CollectionConverters._

/** The `serve` workload's server process: `GraftServer` on an ephemeral
  * port, driven over HTTP by the benchmark's load generator.
  *
  * Protocol on stdin/stdout, one line each:
  *  - on start it prints `PORT <n>` once the server accepts calls;
  *  - `REPLAY <bodies.jsonl> <out.json> <csvPath>` replays recorded
  *    request bodies in process through the public `Wire` and
  *    `GraftServer` functions and writes per-call layer timings plus
  *    Spark metrics of the actions (the traced run), and the time of
  *    `GraftServer.handle` over the same bodies untraced, then prints
  *    `OK`;
  *  - `STATS <out.json>` writes the JVM's peak RSS, then prints `OK`;
  *  - `QUIT` (or end of input) stops the server and the session.
  */
object ServeBench {
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("GRAFTBENCH_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-server")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = GraftServer.start(spark, 0)
    println(s"PORT ${server.getAddress.getPort}")
    System.out.flush()

    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "QUIT") {
      line.trim.split(" ").toList match {
        case "REPLAY" :: bodies :: out :: csv :: Nil => replay(spark, bodies, out, csv)
        case "STATS" :: out :: Nil =>
          Json.write(out, Json.obj().put("peak_rss_mb", Rss.peakMb()))
        case other => System.err.println(s"[e2ebench] unknown command: $other")
      }
      println("OK")
      System.out.flush()
      line = in.readLine()
    }
    server.stop(0)
    spark.stop()
    sys.exit(0) // the server's request pool threads are not daemons
  }

  /** Per-call layer split of the recorded calls: `wire` (lineage
    * replay, response encoding), `api` (the new op's GraftFrame
    * validation + `df.schema` analysis), `catalyst` (planning of the
    * action's plan), `exec` (Spark running it) and `server` (the whole
    * `GraftServer.handle`, timed with the listener attached). Then the
    * listener is removed and the same bodies go through
    * `GraftServer.handle` again, untraced. */
  private def replay(spark: SparkSession, bodiesFile: String, outFile: String,
                     csvPath: String): Unit = {
    val sc = spark.sparkContext
    val calls = Json.arr()
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Int, (Long, Long))]
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(bodiesFile)).asScala
      .filter(_.trim.nonEmpty)
    val collector = new ExecCollector
    sc.addSparkListener(collector)
    lines.zipWithIndex.foreach { case (raw, i) =>
      val rec = Wire.parse(raw)
      val bodyText = rec.get("body").asText()
      val c = calls.addObject()
      c.put("call", rec.get("call").asInt())
      val p0 = System.nanoTime()
      val body = Wire.parse(bodyText)
      c.put("parse_ms", ms(p0))
      val state = body.get("dataframe")
      val fn = body.get("function")
      val tag = fn.fieldNames().next()
      val lineage = if (state == null || state.isNull) 0 else state.get("ops").size()
      c.put("lineage", lineage)
      val r0 = System.nanoTime()
      val prior = if (lineage == 0) null else Wire.replay(spark, state)
      c.put("replay_ms", ms(r0))
      tag match {
        case "Read" | "Op" =>
          val entry = if (tag == "Read") fn else fn.get("Op")
          val a0 = System.nanoTime()
          val frame = Wire.applyOp(spark, prior, entry)
          frame.df.schema
          c.put("analyze_ms", ms(a0))
          if (tag == "Read") c.put("resolve_ms", ms(a0))
        case _ =>
          val action = fn.get("Action")
          val df: DataFrame =
            if (action.isTextual && action.asText() == "Count") prior.df.groupBy().count()
            else if (action.isObject && action.has("Take")) prior.take(action.get("Take").asInt()).df
            else prior.df
          sc.setJobGroup(s"call$i", "replay")
          val q0 = System.nanoTime()
          df.queryExecution.executedPlan
          val phases = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            c.put(s"${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
          }
          c.put("plan_ms", ms(q0))
          val e0 = System.nanoTime(); val w0 = System.currentTimeMillis()
          val rows = df.collect()
          c.put("exec_ms", ms(e0))
          windows += ((i, (w0, System.currentTimeMillis())))
          sc.clearJobGroup()
          val n0 = System.nanoTime()
          val resp = Wire.obj()
          resp.set[JsonNode]("dataframe", state)
          resp.set[JsonNode]("blocks", Wire.blocksOf(rows, df.schema))
          c.put("resp_bytes", Wire.render(resp).length)
          c.put("encode_ms", ms(n0))
      }
      val h0 = System.nanoTime()
      val (status, _) = GraftServer.handle(spark, body)
      c.put("handle_ms", ms(h0))
      c.put("status", status)
    }
    collector.awaitQuiet()
    windows.foreach { case (i, w) =>
      calls.get(i).asInstanceOf[ObjectNode].set[JsonNode]("exec", collector.report(s"call$i", Some(w)))
    }
    sc.removeSparkListener(collector)
    val untraced = lines.map { raw =>
      val body = Wire.parse(Wire.parse(raw).get("body").asText())
      val h0 = System.nanoTime()
      GraftServer.handle(spark, body)
      ms(h0)
    }.sum / 1e3
    // one full scan of the session CSV through graft's CSV source,
    // median of 3 (the scan every action repeats)
    val schemaJson = lines.iterator.map(Wire.parse).map(r => Wire.parse(r.get("body").asText()))
      .map(_.get("function")).find(_.has("Read")).map(_.get("Read").get(2))
    val scans = schemaJson.toSeq.flatMap { s =>
      val schema = Wire.schemaOf(s)
      (1 to 3).map { _ =>
        val s0 = System.nanoTime()
        graft.sources.Sources.csv(spark, csvPath, schema).df
          .write.format("noop").mode("overwrite").save()
        ms(s0) / 1e3
      }
    }.sorted
    val out = Json.obj()
    out.set[JsonNode]("calls", calls)
    out.put("handle_untraced_s", untraced)
    if (scans.nonEmpty) out.put("csv_scan_s", scans(scans.size / 2))
    Json.write(outFile, out)
  }
}
