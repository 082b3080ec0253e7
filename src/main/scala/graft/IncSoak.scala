package graft

import org.apache.spark.sql.functions._

/** Incremental-dedup scaling probe: evidences the "cost ∝ batch, not
  * corpus" claim of [[graft.dedup.IncrementalDedup]] by timing, on the
  * same host and JVM settings,
  *
  *   (a) one-time corpus index build (the amortized cost),
  *   (b) incremental dedup of a NEW batch against that index, and
  *   (c) what a non-incremental pipeline pays for the same snapshot:
  *       full fuzzy dedup over corpus ∪ batch.
  *
  * Args: corpusParquet [batchDocs=40000] [cores]. The batch is the
  * next `batchDocs` rows of the same deterministic CCPages stream, so
  * it genuinely duplicates the corpus (the planted i%40==8 exact group)
  * and itself (class-9 near-dups).
  */
object IncSoak {
  def main(args: Array[String]): Unit = {
    val corpusPath = args(0)
    val batchDocs = if (args.length > 1) args(1).toLong else 40000L
    val cpus = if (args.length > 2) args(2).toInt else Session.cores
    val spark = Session("graft-inc-soak", cpus)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val corpus = spark.read.parquet(corpusPath)
      .withColumn("doc_id", xxhash64(col("url"))).select("doc_id", "text")
    val corpusDocs = corpus.count()

    // materialize the batch like a real snapshot arrival (not timed)
    val batchPath = s"/tmp/inc_batch_${corpusDocs}_$batchDocs"
    if (!new java.io.File(s"$batchPath/_SUCCESS").exists()) {
      graft.fixtures.CCPages.generateRange(spark, corpusDocs, corpusDocs + batchDocs, cpus * 2)
        .write.mode("overwrite").parquet(batchPath)
    }
    val batch = spark.read.parquet(batchPath)
      .withColumn("doc_id", xxhash64(col("url"))).select("doc_id", "text")

    // warm the signature/band/CC code paths in this JVM before timing
    // anything — C2 ramp would otherwise penalize whichever measurement
    // runs first (observed: +6-10 s on the first timed pass)
    graft.dedup.MinHashLSH.removalIds(batch.limit(20000)).count()

    // stable path (overwritten per run): pid-keyed dirs would
    // accumulate a corpus-scale band table per invocation
    val idxPath = s"/tmp/inc_idx_$corpusDocs"
    val (_, tIndex) = time {
      graft.dedup.IncrementalDedup.writeFuzzyIndex(corpus, idxPath)
    }
    val idx = graft.dedup.IncrementalDedup.loadFuzzyIndex(spark, idxPath)
    val (incRemoved, tInc) = {
      val (r, t1) = time(graft.dedup.IncrementalDedup.fuzzyRemovalIds(batch, idx).count())
      val (_, t2) = time(graft.dedup.IncrementalDedup.fuzzyRemovalIds(batch, idx).count())
      (r, math.min(t1, t2))
    }
    val (fullRemoved, tFull) = {
      val (r, t1) = time(graft.dedup.MinHashLSH.removalIds(corpus.unionByName(batch)).count())
      val (_, t2) = time(graft.dedup.MinHashLSH.removalIds(corpus.unionByName(batch)).count())
      (r, math.min(t1, t2))
    }
    val canary = HostCanary.efficiency()
    println(f"[inc] corpus=$corpusDocs batch=$batchDocs index_build=$tIndex%.1f s " +
      f"incremental=$tInc%.1f s full_recompute=$tFull%.1f s speedup=${tFull / tInc}%.1fx " +
      f"inc_removed=$incRemoved full_removed=$fullRemoved host_canary=$canary%.3f")
    spark.stop()
  }
}
