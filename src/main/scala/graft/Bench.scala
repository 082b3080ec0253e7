package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Per-round benchmark: times every SparkEntry query on the driver-chosen
  * SF dir, plus the headline curation-throughput run on a deterministic
  * generated cc_pages corpus (the testdata documents table is too small
  * to measure throughput — 5k rows at sf0.1).
  *
  * Prints a full JSON line, then a summary line sized for a 2000-char
  * stdout tail: {"metric","value","unit","queries","errors","sf"}. The
  * queries map carries per-query seconds plus derived `*_docs_per_s`
  * throughput entries for the headline runs. A catalog entry that throws
  * is left out of `queries`, named in `errors` with its exception class,
  * printed with its message on stderr, and makes the run exit 1. Under
  * `sbt runMain` that exit makes sbt print two `[error] Nonzero exit
  * code …` lines after the summary, so the summary is the last stdout
  * line that starts with `{`, not always the last line.
  */
object Bench {

  /** The frame the MinHash keys time: every signature, folded to one
    * row. It must consume `sig` — a plain `signatures(df).count()`
    * lets Spark prune the column and the signature UDF with it.
    */
  private[graft] def minhashSignatures(df: DataFrame): DataFrame =
    graft.dedup.MinHashLSH.signatures(df).agg(bit_xor(xxhash64(col("sig"))))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cores
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "200000").toLong
    val spark = Session("graft-bench", cpus)
    // the sf testdata ships one small parquet file per table — at the
    // default 128m split size every scan is ONE partition and any
    // heavy per-row UDF stage (minhash signatures: ~0.5 ms/doc)
    // serializes onto a single core. Production inputs arrive in
    // thousands of splits; locally the split knob restores the same
    // scan parallelism (measured: dedup_jaccard_pairs 5.5 -> ~2 s).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ---- phase 1: headline throughput on generated corpus (measured in
    // a clean JVM, before the catalog queries pollute heap/JIT state) ----
    val corpusPath = s"/tmp/graft_bench_corpus_$benchDocs"
    if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
      graft.fixtures.CCPages.generate(spark, benchDocs, partitions = cpus * 2)
        .write.mode("overwrite").parquet(corpusPath)
    }
    val corpus = spark.read.parquet(corpusPath)
    val warm = corpus.limit(30000)

    def throughput(label: String, warmup: => Long)(run: => Long): Unit = {
      warmup // JIT + codegen for THIS code path, untimed
      System.gc()
      // best-of-three: C2 compilation ramps across early passes and this
      // sandbox host is noisy (same pass varies 2x run-to-run); min is
      // the statistic robust to external interference
      val sec = Seq(time(run), time(run), time(run)).min
      results(s"${label}_sec") = sec
      results(s"${label}_docs_per_s") = benchDocs / sec
    }

    // global warmup: one full untimed curate pass compiles the annotate +
    // cascade paths end to end (a 30k slice is not enough for C2 to
    // finish ramping — whichever op measured first was eating the ramp)
    graft.pipeline.CurationPipeline.keptOutput(
      graft.pipeline.CurationPipeline.curate(corpus)).count()

    throughput("curate_full",
      graft.pipeline.CurationPipeline.keptOutput(
        graft.pipeline.CurationPipeline.curate(warm)).count()) {
      graft.pipeline.CurationPipeline.keptOutput(
        graft.pipeline.CurationPipeline.curate(corpus)).count()
    }
    throughput("cascade",
      graft.filters.Cascade.score(warm).filter(col("keep")).count()) {
      graft.filters.Cascade.score(corpus).filter(col("keep")).count()
    }
    throughput("dedup_exact",
      graft.dedup.ExactDedup.removalIds(warm, idCol = "url", textCol = "text").count()) {
      graft.dedup.ExactDedup.removalIds(corpus, idCol = "url", textCol = "text").count()
    }

    // config-driven non-English path END TO END from the shipped YAML
    // (parse -> 25-filter fused cascade -> jsonl write), so the
    // ConfigPipeline entry point has a tracked throughput number
    val parsed = graft.pipeline.ConfigPipeline.parse(
      "src/main/resources/config/text/heuristic_filter_non_english_pipeline.yaml",
      Map("input_path" -> corpusPath, "output_path" -> "/tmp/graft_bench_non_en"))
    throughput("config_non_en",
      { graft.pipeline.ConfigPipeline.run(spark, parsed, Some(warm)); 0L }) {
      graft.pipeline.ConfigPipeline.run(spark, parsed, Some(corpus)); 0L
    }

    // minhash is the one genuinely compute-heavy sketch (260 permutations
    // × ~1,200 shingles/doc); benchmark on a 20k slice
    val minhashDocs = math.min(20000L, benchDocs)
    val mhCorpus = corpus.limit(minhashDocs.toInt).withColumn("doc_id", xxhash64(col("url")))
    minhashSignatures(warm.limit(2000).withColumn("doc_id", xxhash64(col("url")))).head()
    val minhashSec = time { minhashSignatures(mhCorpus).head() }
    results("minhash_sig_20k_sec") = minhashSec
    results("minhash_docs_per_s") = minhashDocs / minhashSec

    // ---- phase 2: catalog queries on the SF dir ----
    // a failed entry is reported by name and fails the run; it never
    // becomes a number that the total could drop
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try results(name) = time(fn(spark, sfDir).count())
      catch { case NonFatal(e) => errors(name) = e }
    }

    val total = results.filter(_._1.endsWith("_sec")).values.sum +
      results.filterNot(k => k._1.endsWith("_sec") || k._1.endsWith("_per_s")).values.sum
    val errorsJson = errors.map { case (k, e) =>
      "\"" + k + "\":\"" + e.getClass.getSimpleName + "\"" }.mkString("{", ",", "}")
    def json(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errorsJson,"sf":"$sfDir"}"""
    }
    // full per-query line first (for the log / post-hoc reads), then a
    // SUMMARY line sized for the driver's 2000-char stdout tail window
    // — the full line outgrew that window at round 3 and every
    // BENCH_r{2,3,4}.json carries "parsed": null because of it; the
    // last printed line must be complete valid JSON inside the tail
    println(json(results.toSeq))
    // per-run file (sf + pid suffix) so concurrent benches never clobber
    val fullPath = s"/tmp/graft_bench_full_${new java.io.File(sfDir).getName}_${ProcessHandle.current.pid}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      json(results.toSeq).getBytes("UTF-8"))
    val headline = results.toSeq.filter { case (k, _) =>
      k.endsWith("_per_s") || k.endsWith("_sec") }
    val slowest = results.toSeq
      .filterNot { case (k, _) => k.endsWith("_per_s") || k.endsWith("_sec") }
      .sortBy(-_._2).take(18)
    val omitted = results.size - headline.size - slowest.size
    println(json((headline ++ slowest.sortBy(_._1)) :+ ("queries_omitted_fast" -> omitted.toDouble)))
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, e) => System.err.println(s"[bench] $k failed: $e") }
      System.err.println(s"[bench] ${errors.size} failed: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
