package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One reported number: name, unit, and which direction is better. */
final case class Metric(name: String, unit: String, better: String, value: Double)

/** Task, stage and job totals over a window, read from a listener the
  * benchmark registers itself. Every field is written on the listener
  * bus thread; callers read after [[Probes.drain]].
  */
final class SparkStats extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, shuffleW, shuffleR, spill, scanBytes = 0L
  private var planMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; shuffleW = 0; shuffleR = 0; spill = 0; scanBytes = 0
    planMs = 0
    jobStart.clear(); jobSpans.clear(); taskTimes.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      scanBytes += m.inputMetrics.bytesRead
    }
  }

  // analysis + optimization + planning of every query that ran
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Length of the union of job intervals: the wall time in which at
    * least one job ran. */
  private def jobWallMs: Long = {
    var total = 0L
    var end = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** max ÷ median task time in the stage where that ratio is largest
    * (stages with at least two tasks; 1.0 when there are none). */
  private def skew: Double = {
    val ratios = taskTimes.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Metrics for a window of `wallS` seconds on `cores` cores. */
  def metrics(wallS: Double, cores: Int): Seq[Metric] = synchronized {
    val jobS = jobWallMs / 1e3
    Seq(
      Metric("spark.busy_share", "ratio", "higher", runMs / 1e3 / (cores * wallS)),
      Metric("spark.executor_cpu_s", "s", "lower", cpuNs / 1e9),
      Metric("spark.gc_s", "s", "lower", gcMs / 1e3),
      Metric("spark.shuffle_write_bytes", "bytes", "lower", shuffleW.toDouble),
      Metric("spark.shuffle_read_bytes", "bytes", "lower", shuffleR.toDouble),
      Metric("spark.spill_bytes", "bytes", "lower", spill.toDouble),
      Metric("spark.task_skew", "ratio", "lower", skew),
      Metric("spark.jobs", "count", "lower", jobs.toDouble),
      Metric("spark.stages", "count", "lower", stages.toDouble),
      Metric("spark.tasks", "count", "lower", tasks.toDouble),
      Metric("io.scan_bytes", "bytes", "lower", scanBytes.toDouble),
      Metric("planner.plan_s", "s", "lower", planMs / 1e3),
      Metric("planner.job_s", "s", "lower", jobS),
      Metric("planner.driver_s", "s", "lower", wallS - jobS))
  }
}

object Probes {
  def register(spark: SparkSession): SparkStats = {
    val s = new SparkStats
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(s)
    s
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One timed layer call; `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Calls are nested on the
  * driver thread, so a stack gives each span its parent.
  */
final class Tracer(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0

  def span[A](name: String)(body: => A): A = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      done += Span(id, parent, name, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Span duration minus the part of it its children cover. Children of
    * one span never overlap (one driver thread), so that part is their sum. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  /** Self time summed per span name. */
  def selfByName: Seq[(String, Double)] =
    spans.groupBy(_.name).toSeq.map { case (n, ss) => n -> ss.map(selfSeconds).sum }.sortBy(_._1)

  def json: Seq[ObjectNode] = spans.map { s =>
    Json.num(Json.obj().put("run_id", runId).put("id", s.id).put("parent", s.parent)
      .put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs),
      "self_s", selfSeconds(s))
  }
}

/** The run record's JSON, written with the Jackson that ships in Spark's jars. */
object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()
  /** A number, or null when it was not measured (NaN or infinite). */
  def num(n: ObjectNode, key: String, d: Double): ObjectNode =
    if (d.isNaN || d.isInfinite) n.putNull(key) else n.put(key, d)
}
