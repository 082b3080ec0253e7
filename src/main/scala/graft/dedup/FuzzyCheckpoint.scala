package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.ManifestParquetIO

/** Stage-checkpointed fuzzy dedup over a cache directory — the
  * reference FuzzyDeduplicationWorkflow's `cache_path` contract
  * (stages/deduplication/fuzzy/workflow.py:62-110: minhashes, LSH
  * buckets/edges and connected components each land in `cache_path` so
  * a crashed run resumes from the last completed stage instead of
  * recomputing a multi-hour job from zero; the id mapping is persisted
  * so removal joins stay valid across reruns).
  *
  * Spark shape: each stage's output is a parquet table committed
  * through [[ManifestParquetIO]] (Overwrite + manifest line AFTER the
  * write lands, so a half-written stage from a killed run is simply
  * rewritten). Stage outputs and why these three:
  *
  *   - `minhashes` (id, sig array<long>) — the expensive scan over the
  *     full corpus text; ~2 KB/doc, tiny next to the input.
  *   - `edges` (src, dst) — everything downstream of the LSH shuffle;
  *     near-dup pairs only, far smaller than the corpus.
  *   - `components` (id, component) — the iterative CC fixpoint.
  *
  * The 20-rows/doc band table is deliberately NOT cached: it is pure
  * per-row arithmetic over `minhashes` and costs more to write+read
  * than to recompute. Results are identical to the single-pass
  * [[MinHashLSH.removalIds]] (asserted by FuzzyCheckpointSpec).
  */
object FuzzyCheckpoint {

  /** Persist the id-annotated input once and read it back on every run.
    * Synthetic ids (`monotonically_increasing_id`) are NOT guaranteed
    * stable between a crashed run and its rerun (they depend on scan
    * partitioning), so every stage AND the final removal join must key
    * off the one persisted assignment — the Spark analogue of the
    * reference persisting its IdGenerator registry next to the dedup
    * output (id_generator.py:30-78).
    */
  def stableInput(df: DataFrame, cachePath: String): DataFrame =
    new ManifestParquetIO(cachePath).stageTable(df.sparkSession, "input_ids")(df)

  /** Fuzzy-dedup removal ids with stage-level resume under `cachePath`.
    * `df`'s `idCol` must be stable across reruns (a real id field, or
    * [[stableInput]]'s persisted assignment).
    */
  def removalIds(df: DataFrame, p: MinHashLSH.Params, cachePath: String,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    val io = new ManifestParquetIO(cachePath)

    val sigs = io.stageTable(spark, "minhashes")(MinHashLSH.signatures(df, p, idCol, textCol))
    val edges = io.stageTable(spark, "edges")(
      MinHashLSH.edgesFromBands(MinHashLSH.bands(sigs, p, idCol), idCol))
    val comps = io.stageTable(spark, "components")(ConnectedComponents.run(edges))
    comps.filter(col("id") =!= col("component")).select(col("id").as(idCol))
  }
}
