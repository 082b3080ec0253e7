package graft
import org.apache.spark.sql.functions._
/** Fuzzy-dedup soak + scaling probe: MinHash+LSH+CC removal ids over a
  * generated corpus at a chosen parallelism (BASELINE.md protocol).
  *
  *   FuzzySoak <corpusParquet> [cores] [cachePath]
  *
  * With `cachePath` the removal runs through the checkpointed
  * [[graft.dedup.FuzzyCheckpoint]] and first prints which stage tables
  * were already committed in the cache. That is the crash/resume drill
  * (BASELINE.md): a control run on a fresh cache records count +
  * xorhash; a drill run is SIGKILLed mid-stage and rerun on the same
  * cache — the rerun must report the completed stages as cached,
  * recompute only the rest, and land the identical xorhash.
  */
object FuzzySoak {
  def main(args: Array[String]): Unit = {
    val corpusPath = args(0)
    val cpus = if (args.length > 1) args(1).toInt else Session.cores
    val cachePath = args.lift(2)
    val spark = Session("graft-fuzzy-soak", cpus)
    val corpus = spark.read.parquet(corpusPath)
      .withColumn("doc_id", xxhash64(col("url")))
      .select("doc_id", "text")
    cachePath.foreach { path =>
      val io = new graft.io.ManifestParquetIO(path)
      val cached = Seq("minhashes", "edges", "components").filter(io.committedTable)
      println(s"[fuzzy] pre-run cached stages: ${if (cached.isEmpty) "none" else cached.mkString(",")}")
    }
    val t0 = System.nanoTime()
    val removal = cachePath match {
      case Some(path) =>
        graft.dedup.FuzzyCheckpoint.removalIds(corpus, graft.dedup.MinHashLSH.Params(), path)
      case None => graft.dedup.MinHashLSH.removalIds(corpus)
    }
    val agg = removal.agg(count("*"),
      // order-independent fingerprint of the removal id set
      expr("bit_xor(xxhash64(doc_id))")).head()
    val sec = (System.nanoTime() - t0) / 1e9
    val docs = corpus.count()
    // same-moment host-interference context (see HostCanary scaladoc):
    // a wall measured while the canary reads < ~0.85 is host-degraded
    val canary = HostCanary.efficiency()
    println(f"[fuzzy] cores=$cpus docs=$docs removed=${agg.getLong(0)} xorhash=${agg.getLong(1)} " +
      f"wall=$sec%.1f s docs_per_s=${docs / sec}%.0f host_canary=$canary%.3f")
    spark.stop()
  }
}
