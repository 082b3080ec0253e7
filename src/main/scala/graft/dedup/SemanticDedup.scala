package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sim.{KMeansLite, Knn}

/** Semantic (embedding-space) deduplication: KMeans clustering, then
  * within-cluster pairwise cosine, then keep-one-per-near-dup-group.
  *
  * Reference: stages/deduplication/semantic/ — KMeansStage (normalized
  * embeddings, kmeans.py:260-286), PairwiseStage (within-cluster batched
  * cosine max-similarity, pairwise.py:37-71, ranked by distance-to-
  * centroid per which_to_keep, pairwise.py:275-299), IdentifyDuplicates
  * (eps threshold). Spark-first: a bounded driver-side Lloyd fit
  * ([[graft.sim.KMeansLite]] — the sample is already capped, so the
  * fit needs zero Spark jobs) with distributed broadcast-model
  * assignment, an equi-join on cluster id for the pairwise step
  * (never the full cross product),
  * and a rank-precedence removal matching the reference's "max sim to a
  * preceding doc in cluster order" semantics.
  *
  * Scale shape: pairwise cost is Σ cluster_size² — k AUTO-GROWS with
  * the corpus ([[autoK]]: ≥ n / [[TargetCellSize]]; the reference pins
  * 1000 clusters for ~300M docs, same calibration), and any hot cell
  * KMeans can't split sub-splits at [[MaxCellSize]] on a hash of the
  * id, so a boilerplate-embedding cluster can never go quadratic. The
  * cluster equi-join shuffles only (cluster, id, vec). KMeans FIT
  * runs on a bounded sample (limit() early-terminates the scan — the
  * executors never iterate the full corpus for training; the reference
  * likewise fits on capped in-memory batches); ASSIGNMENT is the one
  * full pass.
  */
object SemanticDedup {

  /** Max rows used to fit the KMeans model. limit() compiles to a
    * partial-scan limit — the fit reads this many rows at any corpus
    * size. Centroid quality needs only ~100× k samples.
    */
  val FitSampleCap = 100000

  /** Average docs per kmeans cell the pairwise tier is calibrated for.
    * Within-cell pairwise cost is Σ cell², so the cluster count must
    * GROW with the corpus — the reference pins ~1000 clusters for
    * ~300M docs for the same reason (semantic/kmeans.py) but leans on
    * GPU matmul per cell; CPU cosine wants smaller cells.
    */
  val TargetCellSize = 512

  /** Hard per-cell cap: any cell larger than this (a hot cluster KMeans
    * couldn't split — identical boilerplate embeddings) is sub-split on
    * xxhash64(id) before the pairwise join, so one skewed cell can never
    * go quadratic. The split is uniform-in-expectation (a block can
    * exceed the cap by hash variance, never by a factor); pairs/removals
    * across sub-blocks of the same cell are forgone — a documented
    * recall guardrail that only activates ABOVE the cap.
    */
  val MaxCellSize = 4096

  /** k grown with the corpus: at least `k`, at least n/targetCellSize.
    * The FIT silently caps k at its sample count ([[FitSampleCap]] —
    * you cannot place more centroids than samples), so above
    * FitSampleCap × targetCellSize docs (~51M at the defaults) cells
    * average larger than targetCellSize; the [[MaxCellSize]] hash
    * sub-split is the guardrail that keeps the pairwise tier bounded
    * there. KMeansLite fits large k two-level (√k coarse + per-cell
    * sub-fits, parallel across driver cores), so the driver fit stays
    * O(n·√k·dim), never quadratic in the sample.
    */
  def autoK(n: Long, k: Int, targetCellSize: Int = TargetCellSize): Int =
    math.max(k.toLong, (n + targetCellSize - 1) / targetCellSize)
      .min(Int.MaxValue).toInt

  /** Fit the cluster model on a bounded sample of L2-normalized
    * embeddings (euclidean kmeans ≈ spherical/cosine kmeans —
    * kmeans.py:260-266). The sample COLLECTS to the driver (≤ fitCap
    * rows — the same bounded-driver-work discipline as TrainCap model
    * training) and Lloyd runs locally in milliseconds; 10 iterations,
    * random seeded init — assignment is a blocking function for the
    * pairwise tier, not a clustering deliverable.
    */
  def fitModel(df: DataFrame, k: Int, seed: Long = 42,
               vecCol: String = "embedding", fitCap: Int = FitSampleCap): KMeansLite.Model = {
    // hash-ordered cap, not a prefix: limit() alone takes the FIRST
    // files of the scan, which on partitioned/sorted corpora is a
    // biased slice (e.g. one language) — orderBy(xxhash64)+limit is a
    // TakeOrdered partial top-N (no full sort) over a pseudo-random key
    val samples = df.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)))
      .limit(fitCap)
      .collect()
      .map(r => KMeansLite.normalize(r.getSeq[Float](0)))
    KMeansLite.fit(samples, k, iters = 10, seed = seed)
  }

  /** Assign a kmeans cluster per embedding, with k auto-grown from the
    * corpus size ([[autoK]]). One count + one full pass (transform);
    * the model comes from [[fitModel]]'s bounded sample. The input is
    * materialized once (localCheckpoint) — count, fit sample and
    * assignment would otherwise each re-evaluate an upstream embedder
    * UDF (same discipline as [[withBlocks]]).
    */
  def withClusters(df: DataFrame, k: Int, seed: Long = 42,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   targetCellSize: Int = TargetCellSize): DataFrame = {
    val mat = df.localCheckpoint(true)
    val kEff = autoK(mat.count(), k, targetCellSize)
    assign(mat, fitModel(mat, kEff, seed, vecCol), vecCol)
  }

  private def assign(df: DataFrame, model: KMeansLite.Model, vecCol: String,
                     probes: Int = 1): DataFrame =
    if (probes <= 1) {
      val predictU = udf((v: Seq[Float]) => model.predict(KMeansLite.normalize(v)))
      df.withColumn("cluster", predictU(col(vecCol)))
    } else {
      // multi-probe blocking: each row carries its top-`probes` cells,
      // so a near-dup pair straddling a cell boundary still shares one
      // (measured: single-probe blocking misses ~2% of exact pairs at
      // sf0.1; probes=2 recovers them at ~4x pairwise cost)
      val predictU = udf((v: Seq[Float]) => model.predictTop(KMeansLite.normalize(v), probes))
      df.withColumn("cluster", explode(predictU(col(vecCol))))
    }

  /** Cluster assignment plus the hard-cap sub-split: emits a `_block`
    * column (cluster + hash sub-bucket for cells above `maxCellSize`)
    * that all pairwise joins key on. Cell sizes come from one tiny
    * aggregation broadcast back onto the rows; when no cell exceeds the
    * cap every `_block` equals its cluster and the split is a no-op.
    */
  def withBlocks(df: DataFrame, k: Int, seed: Long = 42,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 targetCellSize: Int = TargetCellSize,
                 maxCellSize: Int = MaxCellSize,
                 probes: Int = 1): DataFrame = {
    // materialize the embeddings ONCE: count (autoK), fit sample,
    // assignment and the subSplit size-join otherwise each re-evaluate
    // an upstream embedder UDF (nondeterministic UDFs block pruning) —
    // the reference likewise persists its embedder stage output before
    // kmeans/pairwise consume it
    val mat = df.localCheckpoint(true)
    val kEff = autoK(mat.count(), k, targetCellSize)
    val clustered = assign(mat, fitModel(mat, kEff, seed, vecCol), vecCol, probes)
    subSplit(clustered, idCol, maxCellSize)
  }

  /** Near-duplicate pairs: exact cosine within each (capped) kmeans
    * cell. k grows with the corpus; hot cells sub-split at the cap.
    */
  def nearDupPairs(df: DataFrame, k: Int, eps: Double, seed: Long = 42,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   targetCellSize: Int = TargetCellSize,
                   maxCellSize: Int = MaxCellSize,
                   probes: Int = 1): DataFrame = {
    val pairs = Knn.nearDupPairsWithin(
      withBlocks(df, k, seed, idCol, vecCol, targetCellSize, maxCellSize, probes),
      "_block", minCosine = 1.0 - eps, idCol, vecCol)
    // multi-probe emits a pair once per shared block — dedup by key
    if (probes <= 1) pairs else pairs.dropDuplicates("src", "dst")
  }

  /** Removal ids: connected components over near-dup pairs, keep min id
    * per component (id-ordered keep-first; see [[removalIdsRanked]] for
    * the reference's which_to_keep variants).
    */
  def removalIds(df: DataFrame, k: Int, eps: Double, seed: Long = 42,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val edges = nearDupPairs(df, k, eps, seed, idCol, vecCol).select(col("src"), col("dst"))
    ConnectedComponents.run(edges)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
  }

  /** The hard-cap sub-split shared by [[withBlocks]] and
    * [[removalIdsRanked]]: `_block` = cluster, or cluster + hash
    * sub-bucket when the cell exceeds `maxCellSize`.
    */
  private def subSplit(clustered: DataFrame, idCol: String, maxCellSize: Int): DataFrame = {
    val sizes = clustered.groupBy("cluster").agg(count(lit(1)).as("_csize"))
    clustered.join(broadcast(sizes), "cluster")
      .withColumn("_nsub", greatest(lit(1L), ceil(col("_csize").cast("double") / maxCellSize)))
      .withColumn("_block",
        concat_ws("_", col("cluster"), pmod(xxhash64(col(idCol)), col("_nsub"))))
      .drop("_csize", "_nsub")
  }

  /** Reference removal semantics (pairwise.py:275-299 + identify stage):
    * rank docs within each cluster — "hard" keeps the doc FARTHEST from
    * the centroid first (descending cosine distance to centroid), "easy"
    * the closest (ascending), "random" a hash-shuffled order — then
    * remove any doc whose cosine similarity to some EARLIER-ranked doc
    * in the same cluster is ≥ 1-eps. (The reference computes each doc's
    * max similarity against preceding docs in cluster order and
    * thresholds it; removal = ∃ preceding near-neighbor, which is the
    * rank-precedence join below — no connected components involved.)
    */
  def removalIdsRanked(df: DataFrame, k: Int, eps: Double,
                       whichToKeep: String = "hard", seed: Long = 42,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       targetCellSize: Int = TargetCellSize,
                       maxCellSize: Int = MaxCellSize): DataFrame =
    removalFromBlocks(
      rankedBlocks(df, k, whichToKeep, seed, idCol, vecCol, targetCellSize, maxCellSize),
      eps, whichToKeep, seed, idCol, vecCol)

  /** The kmeans/blocking tier of [[removalIdsRanked]]: fit + assign +
    * hard-cap sub-split + centroid distance — everything upstream of the
    * pairwise join, as a plain (id, vec, _block, _cdist) frame. This is
    * the stage the reference persists to cache_path as kmeans_results
    * (semantic/workflow.py:150-153); [[SemanticCheckpoint]] checkpoints
    * exactly this frame.
    */
  def rankedBlocks(df: DataFrame, k: Int, whichToKeep: String = "hard", seed: Long = 42,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   targetCellSize: Int = TargetCellSize,
                   maxCellSize: Int = MaxCellSize): DataFrame = {
    require(Set("hard", "easy", "random").contains(whichToKeep))
    val mat = df.localCheckpoint(true) // one embedder pass (see withBlocks)
    val model = fitModel(mat, autoK(mat.count(), k, targetCellSize), seed, vecCol)
    val clustered = subSplit(assign(mat, model, vecCol), idCol, maxCellSize)
    val centroids: Array[Array[Float]] = model.centroids.map(_.map(_.toFloat))
    val centroidOf = udf((cluster: Int) => centroids(cluster).toSeq)
    if (whichToKeep == "random") clustered.withColumn("_cdist", lit(0.0))
    else clustered.withColumn("_cdist",
      lit(1.0) - Knn.cosineCol(col(vecCol), centroidOf(col("cluster"))))
  }

  /** The pairwise tier of [[removalIdsRanked]] over a blocking frame
    * from [[rankedBlocks]].
    */
  def removalFromBlocks(blocks: DataFrame, eps: Double,
                        whichToKeep: String = "hard", seed: Long = 42,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(Set("hard", "easy", "random").contains(whichToKeep))
    // the reference RankingStrategy sorts [distance, id] with ONE
    // ascending flag — the id tie-break follows the distance direction
    // (descending for "hard"), which decides keep/remove for exact
    // duplicates (equal distances)
    val rankKey: Seq[org.apache.spark.sql.Column] = whichToKeep match {
      case "hard"   => Seq(col("_cdist").desc, col(idCol).desc)
      case "easy"   => Seq(col("_cdist").asc, col(idCol).asc)
      case "random" => Seq(xxhash64(col(idCol), lit(seed)).asc, col(idCol).asc)
    }
    // rank + pairwise both key on _block (= cluster unless a hot cell
    // crossed MaxCellSize and sub-split), so one skewed cell can never
    // make the l×r join quadratic in the corpus
    val w = Window.partitionBy("_block").orderBy(rankKey: _*)
    val ranked = blocks.withColumn("_rank", row_number().over(w))
    val l = ranked.select(col("_block"), col(vecCol).as("_v1"), col("_rank").as("_r1"))
    val r = ranked.select(col("_block"), col(idCol).as("_removed"), col(vecCol).as("_v2"), col("_rank").as("_r2"))
    l.join(r, "_block")
      .filter(col("_r1") < col("_r2"))
      .filter(Knn.cosineCol(col("_v1"), col("_v2")) >= lit(1.0 - eps))
      .select(col("_removed").as(idCol))
      .distinct()
  }
}
