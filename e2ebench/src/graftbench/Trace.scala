package graftbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Small JSON helpers over the Jackson copy that ships with Spark. */
object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()
  def write(path: String, node: JsonNode): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(node) + "\n",
      StandardCharsets.UTF_8)
}

/** Peak resident set of this JVM (`VmHWM`), in MB. */
object Rss {
  def peakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Spans of a traced run, kept in memory and written once at run end.
  * A span is (id, name, parent, start, end) under one run id; times
  * are wall-clock epoch milliseconds with sub-millisecond digits.
  * Disabled instances only run the body.
  */
final class Spans(runId: String, enabled: Boolean) {
  private final case class Span(id: Int, name: String, parent: Int,
                                startMs: Double, endMs: Double)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs()
      try body
      finally {
        done += Span(id, name, parent, t0, nowMs())
        stack = stack.tail
      }
    }

  def write(path: String): Unit = if (enabled) {
    val lines = done.sortBy(_.id).map { s =>
      val o = Json.obj()
      o.put("run", runId).put("id", s.id).put("name", s.name)
        .put("parent", s.parent).put("start_ms", s.startMs).put("end_ms", s.endMs)
      Json.mapper.writeValueAsString(o)
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"),
      StandardCharsets.UTF_8)
  }
}

/** Spark execution metrics per job group, from the listener API.
  * Every job inherits the group set on the driver thread that ran it
  * (`SparkContext.setJobGroup`), so a group names one query phase.
  */
final class ExecCollector extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spillBytes = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groupOfStage = mutable.Map.empty[Int, String]
  private val aggs = mutable.Map.empty[String, Agg]
  private var jobsStarted = 0L
  private var jobsEnded = 0L
  private var events = 0L

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; jobsStarted += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("<none>")
    e.stageIds.foreach(groupOfStage(_) = g)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; jobsEnded += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    agg(groupOfStage.getOrElse(e.stageInfo.stageId, "<none>")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val a = agg(groupOfStage.getOrElse(e.stageId, "<none>"))
    a.tasks += 1
    val info = e.taskInfo
    if (info != null) a.intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.taskRunMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Block until the listener bus has delivered every started job's
    * end and no event arrived for a few polls (bounded wait). */
  def awaitQuiet(maxMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L; var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val (ev, balanced) = synchronized((events, jobsStarted == jobsEnded))
      if (balanced && ev == last) stable += 1 else stable = 0
      last = ev
    }
  }

  /** Metrics of one group as JSON; `windowMs` (epoch start, end), when
    * given, adds the wall time inside it during which no task ran. */
  def report(group: String, windowMs: Option[(Long, Long)] = None): ObjectNode =
    synchronized {
      val a = aggs.getOrElse(group, new Agg)
      val o = Json.obj()
      o.put("jobs", a.jobs).put("stages", a.stages).put("tasks", a.tasks)
        .put("task_run_s", a.runMs / 1e3).put("task_cpu_s", a.cpuNs / 1e9)
        .put("gc_s", a.gcMs / 1e3).put("input_mb", a.inputBytes / 1048576.0)
        .put("shuffle_write_mb", a.shuffleWrite / 1048576.0)
        .put("shuffle_read_mb", a.shuffleRead / 1048576.0)
        .put("spill_mb", a.spillBytes / 1048576.0)
      val runs = a.taskRunMs.sorted
      if (runs.size >= 2) {
        val med = runs((runs.size - 1) / 2).toDouble
        o.put("task_skew", runs.last / math.max(med, 1.0))
      }
      windowMs.foreach { case (from, to) =>
        o.put("driver_gap_s", uncovered(from, to, a.intervals.toSeq) / 1e3)
      }
      o
    }

  /** Milliseconds of [from, to] not covered by any interval. */
  private def uncovered(from: Long, to: Long, iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var cursor = from
    iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
      }
    math.max(0L, (to - from) - covered)
  }
}
