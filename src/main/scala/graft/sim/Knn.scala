package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers, per the engine plan:
  *   - [[bruteForceTopK]] — exact cosine top-k. One broadcast of the query
  *     set, one pass over the corpus, per-row top-k via window. Baseline
  *     and oracle.
  *   - [[lshTopK]] — random-hyperplane LSH (sign-random-projection)
  *     bucketing: corpus and queries hash to signatures; candidates =
  *     same-bucket rows across several hash tables; exact re-rank within
  *     candidates. The scale path: shuffles only (bucket, id) pairs.
  *   - [[ivfTopK]] — IVF-style: spherical centroids via a bounded
  *     driver-side KMeansLite fit; candidates = rows in the nProbe
  *     nearest cells.
  */
object Knn {

  /** Cosine similarity of two float vectors (null/size-mismatch → -1). */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    if (a == null || b == null || a.size != b.size || a.isEmpty) return -1.0
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.size) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / math.sqrt(na * nb)
  }

  /** Codegen'd cosine over array<float> columns (no per-row boxing). */
  def cosineCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.CosineSimilarity(a, b)

  /** Exact top-k cosine neighbors of each query vector.
    * queries is expected to be small (it is broadcast); corpus is the
    * large side and streams through one codegen stage. Top-k is a
    * BOUNDED custom aggregate ([[graft.functions.TopKPairs]], a
    * TypedImperativeAggregate whose partial buffers cap at k), so the
    * one shuffle carries k rows per query per mapper — the old window
    * rank shuffled and sorted the full |corpus|×|queries| product. Ids
    * must be integral (they ride the aggregate as long).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    topKPerQuery(
      c.crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", cosineCol(col("_cv"), col("_qv"))), k)
  }

  /** Bounded per-query top-k over (query_id, neighbor_id, sim) rows via
    * the [[graft.functions.TopKPairs]] TypedImperativeAggregate: partial
    * buffers cap at k, so the one shuffle carries k rows per query per
    * mapper — never the full candidate set into a one-partition-per-
    * query window sort. struct(-sim, id) ascending == (sim desc, id
    * asc), the same deterministic order a window rank would use. Ids
    * must be integral (they ride the aggregate as long).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    // fail fast on non-integral ids: a string id would cast to null and
    // the aggregate would silently read every neighbor as id 0
    val idType = scored.schema("neighbor_id").dataType
    require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"top-k neighbor ids must be integral (got $idType); map ids to long first")
    val t = scored.select(col("query_id"),
      struct((-col("sim")).as("negsim"),
        col("neighbor_id").cast("long").as("neighbor_id")).as("_t"))
    val topk = GraftSqlBridge.column(
      graft.functions.TopKPairs(GraftSqlBridge.expression(col("_t")), k)
        .toAggregateExpression())
    t.groupBy("query_id").agg(topk.as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col("query_id"), col("_t.neighbor_id").as("neighbor_id"),
        (-col("_t.negsim")).as("sim"), (col("_i") + 1).as("rank"))
  }

  /** Random-hyperplane signatures: `tables` independent `bits`-bit codes. */
  def srpSignatures(df: DataFrame, dim: Int, tables: Int = 8, bits: Int = 12,
                    seed: Long = 42, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // driver-side deterministic hyperplanes, broadcast via closure
    val rng = new java.util.Random(seed)
    val planes = Array.fill(tables, bits, dim)(rng.nextGaussian())
    val sigUdf = udf((v: Seq[Float]) => {
      if (v == null) null
      else {
        val out = new Array[Long](tables)
        var t = 0
        while (t < tables) {
          var code = 0L
          var b = 0
          while (b < bits) {
            var dot = 0.0
            val plane = planes(t)(b)
            var i = 0
            val n = math.min(dim, v.size)
            while (i < n) { dot += plane(i) * v(i); i += 1 }
            if (dot >= 0) code |= (1L << b)
            b += 1
          }
          out(t) = (t.toLong << 32) | code
          t += 1
        }
        out
      }
    })
    df.select(col(idCol), col(vecCol), explode(sigUdf(col(vecCol))).as("bucket"))
  }

  /** Approximate top-k: same-bucket candidates across hash tables, exact
    * cosine re-rank on the candidate set only.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              tables: Int = 8, bits: Int = 12, seed: Long = 42,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // bucket probe carries ONLY (bucket, id) — the wide vector columns
    // never enter the multi-table join or the distinct; candidate ids
    // dedup as two longs, then vectors re-attach once per side
    val cs = srpSignatures(corpus.select(idCol, vecCol), dim, tables, bits, seed, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("bucket"))
    val qs = broadcast(
      srpSignatures(queries.select(idCol, vecCol), dim, tables, bits, seed, idCol, vecCol)
        .select(col(idCol).as("query_id"), col("bucket")))
    val candidates = cs.join(qs, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    topKPerQuery(
      candidates.join(cv, "neighbor_id").join(qv, "query_id")
        .withColumn("sim", cosineCol(col("_cv"), col("_qv"))), k)
  }

  /** IVF-style ANN: KMeans centroids over the corpus (spherical via L2
    * normalization), each corpus row assigned to its cell; a query probes
    * the nProbe nearest centroids and exact-reranks only those cells.
    * The scale path when the corpus has cluster structure: candidates
    * shrink by ~k/nProbe while recall stays high.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, cells: Int = 16,
              nProbe: Int = 4, seed: Long = 42,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // centroid FIT on a bounded hash-ordered sample (TakeOrdered partial
    // top-N — no full sort, no bias toward the scan's first files),
    // collected and Lloyd-fit on the driver (KMeansLite — zero Spark
    // jobs per fit); ASSIGNMENT is the one full pass (same discipline
    // as SemanticDedup)
    val samples = corpus.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol))).limit(graft.dedup.SemanticDedup.FitSampleCap)
      .collect().map(r => KMeansLite.normalize(r.getSeq[Float](0)))
    val model = KMeansLite.fit(samples, cells, iters = 10, seed = seed)
    val cellUdf = udf((v: Seq[Float]) => model.predict(KMeansLite.normalize(v)))
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        cellUdf(col(vecCol)).as("cell"))
    val probeUdf = udf((v: Seq[Float]) =>
      model.predictTop(KMeansLite.normalize(v), nProbe))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("cell", explode(probeUdf(col("_qv")))))
    // each corpus row lives in exactly ONE cell (predict, not
    // predictTop), so the probe join emits a neighbor at most once per
    // query — no dedup needed ahead of the bounded top-k
    topKPerQuery(
      assigned.join(q, "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", cosineCol(col("_cv"), col("_qv"))), k)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key (e.g. a
    * cluster or label column): exact cosine inside each block — the
    * "semantic dedup pairwise" shape of the reference
    * (deduplication/semantic/pairwise.py:37-71) with blocks standing in
    * for KMeans cells.
    */
  def nearDupPairsWithin(df: DataFrame, blockCol: String, minCosine: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val l = df.select(col(blockCol).as("_blk"), col(idCol).as("src"), col(vecCol).as("_v1"))
    val r = df.select(col(blockCol).as("_blk"), col(idCol).as("dst"), col(vecCol).as("_v2"))
    l.join(r, "_blk")
      .filter(col("src") < col("dst"))
      .withColumn("cosine", cosineCol(col("_v1"), col("_v2")))
      .filter(col("cosine") >= minCosine)
      .select(col("src"), col("dst"), col("cosine"))
  }
}
