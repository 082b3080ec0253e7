package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import graft.dedup.{ConnectedComponents, MinHashLSH, PerfbenchAccess}
import graft.fixtures.CCPages
import graft.io.ManifestParquetIO
import graft.pipeline.CurationPipeline

/** A correctness check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One benchmark workload. `run` is the timed operation; everything
  * else happens outside the timed region.
  */
abstract class Workload(val spark: SparkSession, val dir: String) {
  def name: String
  /** Input documents one operation processes. */
  def docsPerOp: Long
  /** Run the job's per-row kernel once on the driver, so the library
    * objects it uses are loaded and initialized during set-up. */
  def initialize(): Unit
  /** Generate the inputs and write them to parquet (repeatable). */
  def generate(): Unit
  /** Remove the last operation's output. */
  def prepare(): Unit
  def run(): Unit
  /** Check the last operation's output; returns its digest. */
  def check(): String
  /** The same operation split into materialized, separately timed phases. */
  def traced(t: Tracer): Unit
  /** The workload's per-row text stage, for counting UDF evaluations. */
  def textStage: DataFrame
  /** Counts taken after the traced operations, outside their spans. */
  def traceCounts(): Seq[Metric]
  /** Files and bytes the last operation wrote. */
  def written(): (Long, Long)
  /** Parquet files whose `text` column the kernel sample is drawn from. */
  def sampleInput: String

  protected def cores: Int = spark.sparkContext.defaultParallelism

  protected def docs(path: String): DataFrame =
    spark.read.parquet(path).select(xxhash64(col("url")).as("doc_id"), col("text"))

  /** Pages with every column CurateApp reads, html included. */
  protected def writePages(start: Long, end: Long, path: String): Unit =
    CCPages.generateRange(spark, start, end, cores * 2)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Order-independent digest of an id column: count, xor and sum of hashes. */
  protected def idDigest(df: DataFrame, idCol: String): String = {
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64($idCol))"),
      sum(hash(col(idCol)).cast("long"))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Exact-duplicate texts always share every LSH band, so each group of
    * identical texts loses all but at most one member; removed ids must
    * come from the input. */
  protected def checkRemovals(input: DataFrame, removed: DataFrame, what: String): Unit = {
    val in = input.select(col("doc_id"), md5(col("text")).as("_h"))
    val r = removed.select(col("doc_id"), lit(1).as("_r"))
    val strangers = r.join(in, Seq("doc_id"), "left_anti").count()
    if (strangers != 0) throw new CheckFailed(s"$what: $strangers removed ids are not input docs")
    val short = in.join(r, Seq("doc_id"), "left").groupBy("_h")
      .agg(count(lit(1)).as("n"), count(col("_r")).as("nr"))
      .filter(col("nr") < col("n") - 1).count()
    if (short != 0) throw new CheckFailed(s"$what: $short exact-duplicate groups keep more than one copy")
  }

  /** Text-UDF evaluations per row in the per-row stage's physical plan. */
  def udfEvalsPerRow: Int =
    textStage.queryExecution.sparkPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case u: ScalaUDF if u.references.exists(_.name == "text") => u
      }).size
    }.sum
}

object Workload {
  val names: Seq[String] = Seq("curate", "fuzzy_dedup")

  /** Seeds move the start offset in steps of 280 rows, a multiple of
    * every period in the generator's class rotation (10 classes, 14 drop
    * regimes per 140 rows, the planted duplicate group every 40 rows),
    * so each seed sees the same document mix. */
  def offset(seed: Long): Long = 280L * 1000 * seed

  def apply(name: String, spark: SparkSession, dir: String, seed: Long, tiny: Boolean): Workload =
    name match {
      case "curate" => new Curate(spark, dir, offset(seed), if (tiny) 2000 else 12000, units = 4)
      case "fuzzy_dedup" => new FuzzyDedup(spark, dir, offset(seed), if (tiny) 1000 else 4000)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** (files, bytes) under a directory; (0, 0) when it does not exist. */
  def treeSize(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      var files, bytes = 0L
      s.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
      (files, bytes)
    } finally s.close()
  }
}

/** CurateApp's job: read → unit column → per-unit checkpointed curation
  * with lang partitioning → per-filter metrics table. */
final class Curate(spark: SparkSession, dir: String, start: Long, rows: Long, units: Int)
    extends Workload(spark, dir) {
  val name = "curate"
  def docsPerOp: Long = rows
  private val input = s"$dir/pages"
  private val out = s"$dir/out"
  def sampleInput: String = input

  def initialize(): Unit = CurationPipeline.annotate(CCPages.page(start).text)
  def generate(): Unit = writePages(start, start + rows, input)
  def prepare(): Unit = Workload.deleteTree(out)

  private def pages: DataFrame = spark.read.parquet(input)
    .withColumn("unit", pmod(xxhash64(col("url")), lit(units)).cast("string"))

  /** CurateApp's per-unit processing, with the unit column still on. */
  private def curated(part: DataFrame): DataFrame =
    CurationPipeline.curate(part).drop("text").withColumnRenamed("scrubbed_text", "text")

  private def commitUnits(df: DataFrame)(process: DataFrame => DataFrame): Unit = {
    val left = new ManifestParquetIO(out).runCheckpointed(df, "unit", "curated", Seq("lang"))(process)
    if (left.nonEmpty) throw new IllegalStateException(s"units left uncommitted: ${left.mkString(",")}")
  }

  private def writeMetrics(): Unit =
    CurationPipeline.metrics(spark.read.parquet(s"$out/curated"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/metrics")

  def run(): Unit = {
    commitUnits(pages)(curated(_).drop("unit"))
    writeMetrics()
  }

  /** All units are curated in one materialized pass, then committed unit
    * by unit: one extra job in all, where materializing inside each
    * unit's job would add one per unit. */
  def traced(t: Tracer): Unit = {
    val all = t.span("pipeline.curate")(curated(pages).localCheckpoint(true))
    t.span("io.write")(commitUnits(all)(_.drop("unit")))
    t.span("pipeline.metrics")(writeMetrics())
  }

  def check(): String = {
    val curatedOut = spark.read.parquet(s"$out/curated")
    // one pass: kept rows, and an order-independent hash of every column
    // the per-row pass writes
    val r = curatedOut.agg(count(when(col("keep"), 1)),
      sum(hash(col("url"), col("html"), col("lang"), col("keep"), col("first_reject"),
        col("lang_pred"), col("text"), col("quality_score"), col("token_count")).cast("long"))).head()
    val kept = r.getLong(0)
    val rowHash = if (r.isNullAt(1)) 0L else r.getLong(1)
    // every class but the rotating drop class (i % 10 == 5) is kept
    val end = start + rows
    def fives(n: Long) = if (n <= 5) 0L else (n - 5 + 9) / 10 // i < n with i % 10 == 5
    val expectKept = rows - (fives(end) - fives(start))
    if (kept != expectKept) throw new CheckFailed(s"curate: kept $kept rows, expected $expectKept")
    val table = spark.read.parquet(s"$out/metrics").collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val total = table.map(_._2).sum
    if (total != rows) throw new CheckFailed(s"curate: metrics table sums to $total, expected $rows")
    s"$kept:${table.map { case (f, n) => s"$f=$n" }.mkString(",").hashCode.toHexString}:$rowHash"
  }

  def textStage: DataFrame = CurationPipeline.curate(pages)
  def traceCounts(): Seq[Metric] = Nil
  def written(): (Long, Long) = Workload.treeSize(out)
}

/** MinHashLSH.removalIds over (xxhash64(url), text), removal ids committed
  * to parquet. */
final class FuzzyDedup(spark: SparkSession, dir: String, start: Long, rows: Long)
    extends Workload(spark, dir) {
  val name = "fuzzy_dedup"
  def docsPerOp: Long = rows
  private val input = s"$dir/pages"
  private val out = s"$dir/removals"
  def sampleInput: String = input

  def initialize(): Unit = {
    val p = MinHashLSH.Params()
    val (a, b) = MinHashLSH.coefficients(p)
    MinHashLSH.signature(CCPages.page(start).text, p, a, b)
  }
  def generate(): Unit = writePages(start, start + rows, input)
  def prepare(): Unit = Workload.deleteTree(out)

  def run(): Unit =
    MinHashLSH.removalIds(docs(input)).write.mode(SaveMode.Overwrite).parquet(out)

  private var chain, removals: DataFrame = _

  def traced(t: Tracer): Unit = {
    val sigs = t.span("dedup.signatures")(MinHashLSH.signatures(docs(input)).localCheckpoint(true))
    chain = t.span("dedup.bands_edges") {
      PerfbenchAccess.chainEdges(MinHashLSH.bands(sigs), "doc_id").localCheckpoint(true)
    }
    removals = t.span("dedup.components") {
      ConnectedComponents.run(chain).filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id")).localCheckpoint(true)
    }
    t.span("io.write")(removals.write.mode(SaveMode.Overwrite).parquet(out))
  }

  def traceCounts(): Seq[Metric] = {
    val chainN = chain.count().toDouble
    val distinctN = chain.filter(col("src") =!= col("dst")).distinct().count().toDouble
    Seq(
      Metric("dedup.chain_edges", "count", "lower", chainN),
      Metric("dedup.distinct_edges", "count", "lower", distinctN),
      Metric("dedup.edge_yield", "ratio", "higher", if (chainN == 0) 1.0 else distinctN / chainN),
      Metric("dedup.removals", "count", "higher", removals.count().toDouble))
  }

  def check(): String = {
    val removed = spark.read.parquet(out)
    checkRemovals(docs(input), removed, name)
    idDigest(removed, "doc_id")
  }

  def textStage: DataFrame = MinHashLSH.signatures(docs(input))
  def written(): (Long, Long) = Workload.treeSize(out)
}
