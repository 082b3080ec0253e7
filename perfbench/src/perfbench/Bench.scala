package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.analysis.TextStats
import graft.dedup.MinHashLSH
import graft.filters.{Cascade, HeuristicFilters}
import graft.pipeline.CurationPipeline
import graft.scrub.PiiScrub

/** One benchmark run: set-up, then operations until `--seconds` have
  * passed, then (with `--trace 1`) traced operations and the per-row
  * kernel loops. Writes a run record as JSON; `run.py` turns it into
  * the result line.
  *
  *   perfbench.Bench --workload W --seed N --seconds S --trace 0|1
  *                   --dir WORK --record FILE --spans FILE
  *                   [--expected FILE] [--commit ID] [--tiny]
  */
object Bench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        dir: String, record: String, spans: String,
                        expected: Option[String], commit: String, tiny: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, not $trace")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      need("dir"), need("record"), need("spans"), kv.get("expected"),
      kv.getOrElse("commit", "unknown"), args.contains("--tiny"))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      Files.writeString(Paths.get(o.record), new Run(spark, o, cores, sessionS).record(), UTF_8)
    } finally spark.stop()
  }

  /** Recorded digests: lines of `workload seed docs digest`. */
  def expectedDigest(file: Option[String], workload: String, seed: Long, docs: Long): Option[String] =
    file.filter(f => Files.exists(Paths.get(f))).flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(_.trim.split("\\s+")).collectFirst {
          case Array(w, s, d, digest) if w == workload && s == seed.toString && d == docs.toString => digest
        }
    }
}

/** The state of one run; `record()` runs it and returns the record JSON. */
final class Run(spark: SparkSession, o: Bench.Opts, cores: Int, sessionS: Double) {
  import Probes.{median, seconds}

  private val stats = Probes.register(spark)
  private val w = Workload(o.workload, spark, s"${o.dir}/data", o.seed, o.tiny)
  private val expected = Bench.expectedDigest(o.expected, w.name, o.seed, w.docsPerOp)
  private val errors = ArrayBuffer.empty[(String, String)]
  private var attempted = 0
  private val digests = ArrayBuffer.empty[String]
  private var lastSpark: Seq[Metric] = Nil

  /** Every operation goes through here: a throw or a failed check is
    * recorded by name and counted; it never becomes a number. */
  private def attempt[A](label: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => errors += (label -> e.toString); None }
  }

  private def sameDigest(d: String): Unit = {
    digests.headOption.foreach { d0 =>
      if (d != d0) throw new CheckFailed(s"digest $d differs from the first operation's $d0")
    }
    expected.foreach { e =>
      if (d != e) throw new CheckFailed(s"digest $d differs from the recorded $e")
    }
    digests += d
  }

  /** prepare → timed run → check. Returns the timed wall in seconds. */
  private def operation(label: String): Option[Double] = attempt(label) {
    w.prepare()
    // the previous operation's check and traced jobs may still have
    // events queued; they must not land in this operation's counters
    Probes.drain(spark)
    stats.reset()
    val (_, s) = seconds(w.run())
    if (o.trace) {
      Probes.drain(spark)
      lastSpark = stats.metrics(s, cores)
    }
    sameDigest(w.check())
    s
  }

  def record(): String = {
    val minOps = if (o.tiny) 1 else 3
    val initS = seconds(w.initialize())._2
    val genS = (1 to (if (o.tiny) 1 else 3)).map(_ => seconds(w.generate())._2)
    // Three unmeasured operations. The first runs while the JIT compiles
    // and its time swings by a factor of two between runs, so set-up
    // counts the median warm-up operation and the first one is reported
    // on its own.
    val warm = (1 to (if (o.tiny) 1 else 3)).flatMap(i => operation(s"warmup$i"))
    val warmS = if (warm.isEmpty) Double.NaN else median(warm)
    val firstOpS = warm.headOption.getOrElse(Double.NaN)
    val setupS = sessionS + initS + median(genS) + warmS

    // With --trace 1 each untraced operation is followed by a traced
    // one, so both see the same JIT and cache state.
    val walls = ArrayBuffer.empty[Double]
    val pairs = ArrayBuffer.empty[(Double, Tracer)]
    val t0 = System.nanoTime()
    var n = 0
    while (n < minOps || ((System.nanoTime() - t0) / 1e9 < o.seconds && n < 200)) {
      val wall = operation(s"op$n")
      wall.foreach(walls += _)
      if (o.trace) for (t <- tracedOperation(s"traced$n"); u <- wall) pairs += (u -> t)
      n += 1
    }
    val rssMb = Probes.peakRssMb()
    val (files, bytes) = w.written()
    val untracedS = if (walls.isEmpty) Double.NaN else median(walls.toSeq)

    val metrics = ArrayBuffer(
      Metric("docs_per_s", "docs/s", "higher", w.docsPerOp / untracedS),
      Metric("setup_s", "s", "lower", setupS),
      Metric("peak_rss_mb", "MB", "lower", rssMb),
      Metric("setup.session_s", "s", "lower", sessionS),
      Metric("setup.init_s", "s", "lower", initS),
      Metric("setup.generate_s", "s", "lower", median(genS)),
      Metric("setup.warmup_s", "s", "lower", warmS),
      Metric("setup.first_op_s", "s", "lower", firstOpS),
      Metric("io.bytes_written", "bytes", "lower", bytes.toDouble),
      Metric("io.files_written", "count", "lower", files.toDouble))
    if (o.trace) metrics ++= layers(untracedS, pairs.toSeq)
    metrics += Metric("error_rate", "ratio", "lower", errors.size.toDouble / attempted)

    val canary = graft.HostCanary.efficiency(1, cores)
    Files.writeString(Paths.get(o.spans), Json.arr().addAll(pairs.flatMap(_._2.json).asJava).toString, UTF_8)
    val context = Json.obj()
      .put("cores", cores)
      .put("heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      .put("seed", o.seed)
      .put("input_docs", w.docsPerOp)
      .put("start_offset", Workload.offset(o.seed))
      .put("git_commit", o.commit)
      .put("host_canary_efficiency", canary)
      .put("java", System.getProperty("java.version"))
      .put("spark", spark.version)
    val rec = Json.obj()
      .put("workload", w.name)
      .put("trace", if (o.trace) 1 else 0)
      .put("correct", errors.isEmpty)
      .put("attempted", attempted)
      .put("failed", errors.size)
    val errs = rec.putArray("errors")
    errors.foreach { case (op, e) => errs.addObject().put("op", op).put("error", e) }
    rec.set[ObjectNode]("context", context)
    val opWalls = rec.putArray("op_walls_s")
    walls.foreach(x => opWalls.add(x))
    val ds = rec.putArray("digests")
    digests.distinct.foreach(d => ds.add(d))
    val ms = rec.putArray("metrics")
    metrics.foreach { m =>
      Json.num(ms.addObject().put("name", m.name).put("unit", m.unit).put("better", m.better), "value", m.value)
    }
    Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rec)
  }

  private def tracedOperation(label: String): Option[Tracer] = attempt(label) {
    val t = new Tracer(s"${w.name}-seed${o.seed}-$label")
    w.prepare()
    t.span(w.name)(w.traced(t))
    sameDigest(w.check())
    t
  }

  /** Per-layer metrics: listener totals of the last untraced operation,
    * span self times, trace counts and the kernel loops. Each traced
    * operation is compared with the untraced one just before it, so
    * drift in host speed over the run cancels. */
  private def layers(untracedS: Double, pairs: Seq[(Double, Tracer)]): Seq[Metric] = {
    val metrics = ArrayBuffer.empty[Metric]
    metrics ++= lastSpark
    metrics += Metric("pipeline.udf_evals_per_row", "count", "lower", w.udfEvalsPerRow.toDouble)
    if (pairs.nonEmpty) {
      metrics ++= w.traceCounts()
      val tracers = pairs.map(_._2)
      val roots = tracers.map(t => t.spans.find(_.parent == -1).get)
      val phases = tracers.zip(roots).map { case (t, r) => r.seconds - t.selfSeconds(r) }
      val byName = tracers.flatMap(_.selfByName).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (n, vs) => n -> median(vs.map(_._2)) }
      metrics ++= byName.filter(_._1 != w.name).map { case (n, s) => Metric(s"${n}_s", "s", "lower", s) }
      metrics ++= Seq(
        Metric("trace.untraced_wall_s", "s", "lower", untracedS),
        Metric("trace.traced_wall_s", "s", "lower", median(roots.map(_.seconds))),
        Metric("trace.phase_self_sum_s", "s", "lower", median(phases)),
        Metric("trace.unattributed_share", "ratio", "lower",
          median(pairs.zip(phases).map { case ((u, _), p) => (u - p) / u })),
        Metric("trace.overhead_share", "ratio", "lower",
          median(pairs.zip(roots).map { case ((u, _), r) => (r.seconds - u) / u })))
    }
    metrics ++= Kernels.measure(spark.read.parquet(w.sampleInput).select("text")
      .limit(if (o.tiny) 100 else 600).collect().map(_.getString(0)))
    metrics.toSeq
  }
}

/** Single-threaded µs/doc of each per-row kernel over a sample of the
  * workload's own documents: one warm pass, then the median of three. */
object Kernels {
  def measure(texts: Array[String]): Seq[Metric] = {
    def us(name: String)(f: String => Any): Metric = {
      texts.foreach(f)
      val passes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        texts.foreach(f)
        (System.nanoTime() - t0) / 1e3 / texts.length
      }
      Metric(name, "us/doc", "lower", Probes.median(passes))
    }
    val cascade = HeuristicFilters.englishCascade
    val p = MinHashLSH.Params()
    val (a, b) = MinHashLSH.coefficients(p)
    val verdicts = texts.map(t => Cascade.evaluate(cascade, t))
    val evaluated = verdicts.map { v =>
      if (v.keep) cascade.length else cascade.indexWhere(_.name == v.firstReject) + 1
    }
    Seq(
      us("pipeline.annotate_us")(CurationPipeline.annotate),
      us("filters.cascade_us")(t => Cascade.evaluate(cascade, t)),
      us("analysis.langid_us")(TextStats.heuristicLangId),
      us("analysis.quality_us")(TextStats.qualityScore),
      us("analysis.bpe_us")(TextStats.bpeTokenCount),
      us("scrub.scrub_us")(t => PiiScrub.defaultScrubber.scrub(PiiScrub.scrubPii(t))),
      us("dedup.signature_us")(t => MinHashLSH.signature(t, p, a, b)),
      Metric("filters.evaluated_per_doc", "count", "lower", evaluated.sum.toDouble / texts.length),
      Metric("pipeline.scrub_share", "ratio", "lower", verdicts.count(_.keep).toDouble / texts.length)
    ) ++ cascade.map(f => us(s"filters.${f.name}_us")(t => f.score(t)))
  }
}
