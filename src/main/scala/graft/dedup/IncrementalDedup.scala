package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Incremental (cross-snapshot) deduplication: dedupe a NEW batch of
  * documents against a persisted index of an already-curated corpus,
  * paying cost proportional to the batch — not the corpus.
  *
  * The reference dedup workflows (fuzzy/workflow.py, exact/workflow.py)
  * are single-corpus: every run re-sketches everything it reads. A
  * production crawl pipeline re-runs on every snapshot, so the operation
  * it actually needs is "remove from THIS month's crawl everything that
  * duplicates (a) the corpus we already kept or (b) itself" — this
  * module adds that as a beyond-the-reference operator.
  *
  * Fuzzy index = the kept corpus's banded-LSH bucket table
  * (band, band_hash, doc_id) — exactly [[MinHashLSH.bands]] output, ~20
  * skinny rows per document. Semantics against the index:
  *
  *   - a batch doc sharing any LSH bucket with an indexed doc is a
  *     DIRECT HIT: the corpus already holds a near-duplicate, so the
  *     batch doc is removed;
  *   - intra-batch candidate edges (same chain construction as
  *     [[MinHashLSH.candidateEdges]]) feed [[ConnectedComponents]]; a
  *     component containing any direct hit is ANCHORED and all its
  *     members are removed (they are transitively near the corpus —
  *     identical to running connected components over corpus ∪ batch,
  *     because corpus docs only ever act as "already kept" anchors);
  *   - unanchored components keep their minimum id, matching
  *     [[MinHashLSH.removalIds]] keep-first semantics.
  *
  * 100 TB shape: the corpus index is touched by ONE semi-join on the
  * bucket key — no corpus text is ever re-read and no corpus-wide CC
  * runs. For a recurring pipeline, store the index bucketed on the join
  * key (`df.write.bucketBy(n, "band", "band_hash").sortBy(...)
  * .saveAsTable(...)`) so each batch run shuffles only the batch side;
  * a plain parquet index shuffles index keys once per run, which is
  * still thin (two longs + id per row).
  *
  * Index maintenance: prefer the SNAPSHOT layout
  * ([[fuzzySnapshotRemovalIds]] / [[exactSnapshotRemovalIds]] — what the
  * workflow YAMLs' `index_path` uses), which is rerun-idempotent at any
  * crash point. The flat [[writeFuzzyIndex]]/[[appendFuzzyIndex]]
  * primitives remain for pipelines with their own commit protocol —
  * a naive append-after-dedup is NOT rerun-safe (see the snapshot
  * section below).
  */
object IncrementalDedup {

  // ---------------- fuzzy (MinHash + LSH) ----------------

  /** The persistable fuzzy index of a kept corpus: its LSH bucket table
    * (band, band_hash, idCol).
    */
  def fuzzyIndex(df: DataFrame, p: MinHashLSH.Params = MinHashLSH.Params(),
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    MinHashLSH.bands(MinHashLSH.signatures(df, p, idCol, textCol), p, idCol)
      .select(col("band"), col("band_hash"), col(idCol))

  def writeFuzzyIndex(df: DataFrame, path: String,
                      p: MinHashLSH.Params = MinHashLSH.Params(),
                      idCol: String = "doc_id", textCol: String = "text"): Unit =
    fuzzyIndex(df, p, idCol, textCol).write.mode("overwrite").parquet(path)

  /** Append the bands of newly KEPT docs (a batch minus its removals)
    * so the next snapshot dedupes against them too.
    */
  def appendFuzzyIndex(df: DataFrame, path: String,
                       p: MinHashLSH.Params = MinHashLSH.Params(),
                       idCol: String = "doc_id", textCol: String = "text"): Unit =
    fuzzyIndex(df, p, idCol, textCol).write.mode("append").parquet(path)

  def loadFuzzyIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Removal ids of `batch` against a corpus index (see object doc for
    * semantics). The index side is consumed by one bucket-key semi-join.
    */
  def fuzzyRemovalIds(batch: DataFrame, index: DataFrame,
                      p: MinHashLSH.Params = MinHashLSH.Params(),
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // materialized: the band table feeds both the index
    // semi-join and the intra-batch edge window — without
    // materialization the signature UDF pass would run twice
    val b = Materialize(fuzzyIndex(batch, p, idCol, textCol))
    removalsFromBands(b, index, idCol)
  }

  /** Core semantics over an already-computed batch band table —
    * separated so the anchored-component propagation is unit-testable
    * with directly constructed bucket collisions.
    */
  private[dedup] def removalsFromBands(b: DataFrame, index: DataFrame,
                                       idCol: String): DataFrame = {
    // direct hits: batch docs sharing any (band, band_hash) bucket with
    // the corpus — the only place the index is read. Two-step on
    // purpose: the batch's DISTINCT bucket keys are ~20/doc and small,
    // so AQE broadcasts them against the index and the corpus-scale
    // side streams map-side with NO shuffle (a direct
    // batch ⋈ index semi-join would build on the index side and
    // sort-merge-shuffle all of it — measured 3.3x -> 8x+ speedup over
    // full recompute at a 10:1 corpus:batch ratio). Oversized batches
    // degrade gracefully to sort-merge via AQE.
    // no .distinct() on corpusHits or hits: both are only ever consumed
    // by semi-joins / the final distinct union, which don't multiply
    // rows — each dropped distinct is one fewer exchange of fixed
    // latency (measured: the sf0.1 catalog entry 8.1 s -> ~half)
    val hot = b.select("band", "band_hash").distinct()
    val corpusHits = index.select("band", "band_hash")
      .join(hot, Seq("band", "band_hash"), "left_semi")
    // materialized: hits (a thin id list bounded by the batch)
    // feeds THREE consumers below (the anchored semi-join and the final
    // union, with `anchored` itself consumed twice) — without
    // materialization the whole index subtree, including the corpus-side
    // signature pass when the index arrives lazy, was evaluated three
    // times in the final plan (3 parquet scans observed; ~2x on the
    // catalog entry)
    val hits = Materialize(b.join(corpusHits, Seq("band", "band_hash"), "left_semi")
      .select(col(idCol).as("id")))

    // intra-batch candidate edges: consecutive-pair chain per bucket
    // without a distinct (the edge-level dedup happens inside
    // ConnectedComponents.run) — the shared chain builder
    val edges = MinHashLSH.chainEdges(b, idCol)
    val comps = ConnectedComponents.run(edges) // (id, component = min id)

    // components touching any direct hit: every member duplicates the
    // corpus transitively; others keep their min id
    val anchored = comps.join(hits, Seq("id"), "left_semi")
      .select("component").distinct()
    val anchoredMembers = comps.join(anchored, Seq("component"), "left_semi")
      .select("id")
    val intraLosers = comps.join(anchored, Seq("component"), "left_anti")
      .filter(col("id") =!= col("component"))
      .select("id")

    hits.union(anchoredMembers).union(intraLosers)
      .distinct()
      .select(col("id").as(idCol))
  }

  def fuzzyRemoveDuplicates(batch: DataFrame, index: DataFrame,
                            p: MinHashLSH.Params = MinHashLSH.Params(),
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    batch.join(fuzzyRemovalIds(batch, index, p, idCol, textCol), Seq(idCol), "left_anti")

  // ---------------- snapshot-scoped index (crash-safe reruns) ----------------
  //
  // The flat write/append index above is a primitive: correct for a
  // pipeline that manages its own commit protocol, but a naive
  // append-after-dedup is NOT rerun-safe — re-running a batch whose
  // append already landed would find the batch's own (deterministic)
  // bands in the index and classify the ENTIRE batch as duplicates.
  // The snapshot layout removes that failure mode structurally: each
  // snapshot's kept bands land in their own manifest-committed subtable
  // under the index root, and dedup of snapshot S reads every OTHER
  // committed snapshot. A rerun of S therefore computes the same
  // removals no matter where the previous attempt died (before, during
  // or after its index write — the write is an idempotent Overwrite of
  // S's own subtable), and concurrent drivers on DIFFERENT snapshots
  // never touch the same files. Same-snapshot concurrency stays
  // single-writer, like every manifest table in graft.io.TableIO.

  private def snapTable(snapshotId: String): String =
    "snap_" + snapshotId.map(c => if (c.isLetterOrDigit || c == '.' || c == '-' || c == '_') c else '_')

  /** Committed snapshot tables under `root`, excluding `exclude`'s own. */
  private def committedSnapshotTables(root: String, exclude: String): Seq[String] = {
    val io = new graft.io.ManifestParquetIO(root)
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    val stream = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("snap_") && n.endsWith("_manifest.jsonl"))
        .map(_.stripSuffix("_manifest.jsonl"))
        .filter(t => t != snapTable(exclude) && io.committedTable(t))
        .toList
    } finally stream.close()
  }

  /** Bucket keys of every committed snapshot under `root` except
    * `exclude` (empty frame when none — the bootstrap case).
    */
  def committedSnapshotBands(spark: SparkSession, root: String,
                             exclude: String): DataFrame = {
    val io = new graft.io.ManifestParquetIO(root)
    import spark.implicits._
    committedSnapshotTables(root, exclude)
      .map(t => io.read(spark, t).select("band", "band_hash"))
      .reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[(Int, Long)].toDF("band", "band_hash"))
  }

  /** Fuzzy removal ids of snapshot `snapshotId` against all OTHER
    * committed snapshots under `indexRoot`; with `updateIndex` the kept
    * docs' bands (reused from the already-materialized batch band
    * table — no second signature pass) overwrite-commit the snapshot's
    * own subtable. Rerun-idempotent at any crash point; bootstrap is
    * just the first snapshot (no special casing).
    */
  def fuzzySnapshotRemovalIds(batch: DataFrame, indexRoot: String, snapshotId: String,
                              p: MinHashLSH.Params = MinHashLSH.Params(),
                              idCol: String = "doc_id", textCol: String = "text",
                              updateIndex: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val b = Materialize(fuzzyIndex(batch, p, idCol, textCol))
    val removal = Materialize(
      removalsFromBands(b, committedSnapshotBands(spark, indexRoot, snapshotId), idCol))
    if (updateIndex) {
      val keptBands = b.join(removal, Seq(idCol), "left_anti")
      new graft.io.ManifestParquetIO(indexRoot).write(keptBands, snapTable(snapshotId))
    }
    removal
  }

  /** text_md5 sets of every committed snapshot except `exclude`. */
  def committedSnapshotHashes(spark: SparkSession, root: String,
                              exclude: String): DataFrame = {
    val io = new graft.io.ManifestParquetIO(root)
    import spark.implicits._
    committedSnapshotTables(root, exclude)
      .map(t => io.read(spark, t).select("text_md5"))
      .reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[String].toDF("text_md5"))
  }

  /** Exact analogue of [[fuzzySnapshotRemovalIds]]. */
  def exactSnapshotRemovalIds(batch: DataFrame, indexRoot: String, snapshotId: String,
                              idCol: String = "doc_id", textCol: String = "text",
                              updateIndex: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val removal = Materialize(exactRemovalIds(batch,
        committedSnapshotHashes(spark, indexRoot, snapshotId), idCol, textCol))
    if (updateIndex) {
      val kept = batch.join(removal, Seq(idCol), "left_anti")
      new graft.io.ManifestParquetIO(indexRoot).write(exactIndex(kept, textCol), snapTable(snapshotId))
    }
    removal
  }

  // ---------------- exact (md5) ----------------

  /** Exact index: the distinct text-md5 set of the kept corpus — the
    * same hash [[ExactDedup]] shuffles (md5 over UTF-8 bytes).
    */
  def exactIndex(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(md5(to_binary(col(textCol), lit("utf-8"))).as("text_md5")).distinct()

  def writeExactIndex(df: DataFrame, path: String, textCol: String = "text"): Unit =
    exactIndex(df, textCol).write.mode("overwrite").parquet(path)

  def appendExactIndex(df: DataFrame, path: String, textCol: String = "text"): Unit =
    exactIndex(df, textCol).write.mode("append").parquet(path)

  /** Removal ids of `batch` against an exact index: any batch doc whose
    * text md5 is already indexed is removed (the corpus keeps its copy);
    * among the rest, intra-batch groups keep the minimum id. One window
    * over (md5, id) plus one semi-join on the hash — the index is never
    * joined wide.
    */
  def exactRemovalIds(batch: DataFrame, index: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("_dup_hash").orderBy(col(idCol))
    // materialized: ranked (thin (hash, id, rn), bounded by the
    // batch) feeds both the intra-loser filter and the index semi-join —
    // without it the batch scan + md5 + window shuffle run twice
    val ranked = Materialize(ExactDedup.hashed(batch, idCol, textCol)
      .withColumn("_rn", row_number().over(w)))
    val intraLosers = ranked.filter(col("_rn") > 1).select(col(idCol))
    val indexedKept = ranked.filter(col("_rn") === 1)
      .join(index.select(col("text_md5").as("_dup_hash")), Seq("_dup_hash"), "left_semi")
      .select(col(idCol))
    intraLosers.union(indexedKept)
  }

  def exactRemoveDuplicates(batch: DataFrame, index: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    batch.join(exactRemovalIds(batch, index, idCol, textCol), Seq(idCol), "left_anti")
}
