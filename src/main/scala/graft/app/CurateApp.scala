package graft.app

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.io.ManifestParquetIO
import graft.pipeline.CurationPipeline

/** spark-submit entry point: the full curation job with partitioned
  * output, per-filter metrics, per-unit lineage, and exact resume.
  *
  *   spark-submit --class graft.app.CurateApp engine.jar \
  *     <inputPath> <outputRoot> [unitBuckets]
  *
  * Production posture (north rule):
  *   - input: Iceberg table of cc pages (here: parquet path; all table
  *     access isolated behind TableIO so the Iceberg runtime jar swap is
  *     a one-liner)
  *   - work splits into `unitBuckets` url-hash units; each unit's output
  *     commits atomically with a lineage row (unit, rows) — a killed run
  *     resumes processing only uncommitted units
  *   - output partitioned by (lang) — days(warc_ts) too when the column
  *     exists — so downstream training-data reads prune partitions
  *   - kept docs carry scrubbed text; dropped docs are not shipped
  *   - per-filter drop metrics written alongside (the reference's
  *     StagePerfStats table, utils/performance_utils.py:31-60)
  */
object CurateApp {

  def main(args: Array[String]): Unit = {
    val input = args(0)
    val outRoot = args(1)
    val unitBuckets = if (args.length > 2) args(2).toInt else 64

    val spark = graft.Session("graft-curate")

    val io = new ManifestParquetIO(outRoot)
    val pages = spark.read.parquet(input)
      .withColumn("unit", pmod(xxhash64(col("url")), lit(unitBuckets)).cast("string"))

    // Checkpoint the SCORED table (all rows, keep flag, first_reject;
    // dropped rows ship no text) — the expensive curation UDF runs
    // exactly once per unit, and kept-view + per-filter metrics both
    // derive from the written columns (column-pruned re-reads, no
    // second scoring pass — SURVEY.md §4 checkpoint design). Output is
    // lang-partitioned inside each unit (the manifest-parquet stand-in
    // for Iceberg's PARTITIONED BY (days(warc_ts), lang)).
    val partCols = if (pages.columns.contains("lang")) Seq("lang") else Nil
    val leftover = io.runCheckpointed(pages, "unit", "curated", partCols) { part =>
      CurationPipeline.curate(part).drop("unit", "text")
        .withColumnRenamed("scrubbed_text", "text")
    }
    if (leftover.nonEmpty) {
      // another live driver holds these units — metrics/kept counts over
      // a partial table would silently misreport; fail loudly instead
      System.err.println(s"curate INCOMPLETE: ${leftover.size} unit(s) held by another driver " +
        s"(${leftover.take(10).mkString(",")}); rerun once it finishes")
      spark.stop()
      sys.exit(3)
    }

    val scored = spark.read.parquet(s"$outRoot/curated")
    CurationPipeline.metrics(scored)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outRoot/metrics")

    // a row is kept exactly when it has no first_reject, so the kept
    // count is the metrics table's `__kept__` row: one small file, not a
    // second scan of the curated output
    val kept = spark.read.parquet(s"$outRoot/metrics").filter(col("filter") === "__kept__")
      .select("docs").collect().headOption.fold(0L)(_.getLong(0))
    println(s"curated: kept $kept docs -> $outRoot/curated (filter keep=true for the corpus; " +
      s"metrics: $outRoot/metrics; lineage: $outRoot/curated_manifest.jsonl)")
    spark.stop()
  }
}
