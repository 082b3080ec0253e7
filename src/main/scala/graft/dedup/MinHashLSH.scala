package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.text.PyText

/** Fuzzy deduplication via MinHash + banded LSH.
  *
  * Reference: stages/deduplication/fuzzy/minhash.py:34-340 (char-24-gram
  * MurmurHash3 shingles, 260 permutations (a*h+b) mod Mersenne prime,
  * driver-precomputed seed pairs) and lsh/lsh.py:32-317 (20 bands × 13
  * rows, melt to (id, bucket), group per bucket dropping singletons).
  * Defaults match fuzzy/workflow.py:77-82: seed=42, char_ngrams=24,
  * num_bands=20, minhashes_per_band=13.
  *
  * Spark-first shape: signatures are computed in a projected select (only
  * id + text read), bands explode to (band_hash, id) — 20 skinny rows per
  * doc — and bucket grouping is one groupBy. Candidate edges feed
  * [[ConnectedComponents]]; removal is the same window-keep-first as
  * exact dedup. Nothing wide ever shuffles.
  */
object MinHashLSH {

  val MERSENNE_PRIME: Long = (1L << 61) - 1

  final case class Params(
      seed: Long = 42,
      charNgrams: Int = 24,
      numBands: Int = 20,
      rowsPerBand: Int = 13
  ) {
    def numPerm: Int = numBands * rowsPerBand
  }

  /** Driver-side deterministic permutation coefficients (broadcast via
    * closure — a few KB). `a`/`b` are FULL-RANGE mod the Mersenne
    * prime: a small-`a` family ((a·h+b) with a ≤ 2^30 and 32-bit
    * shingle hashes) never wraps the modulus for small h, so the
    * smallest FNV hash in a document systematically wins the min for a
    * large fraction of permutations AT ONCE — one unlucky new shingle
    * then flips ~30% of the signature and every band together
    * (observed: a J=0.992 pair with 0/20 equal bands). Full-range `a`
    * with an exact 122-bit Mersenne modmul ([[mulmodM]]) restores
    * pairwise-independent permutations: per-permutation agreement
    * concentrates at J and band recall follows the standard
    * 1-(1-J^r)^b curve.
    */
  def coefficients(p: Params): (Array[Long], Array[Long]) = {
    val rng = new java.util.Random(p.seed)
    val a = Array.fill(p.numPerm)({ val v = math.abs(rng.nextLong()) % (MERSENNE_PRIME - 1); v + 1 })
    val b = Array.fill(p.numPerm)(math.abs(rng.nextLong()) % MERSENNE_PRIME)
    (a, b)
  }

  /** a*h mod (2^61-1) for 0 <= a, h < 2^61, exact via the 128-bit
    * product (multiplyHigh intrinsic): with p = 2^61-1, 2^64 ≡ 8, so
    * hi·2^64 + lo ≡ 8·hi + (lo >>> 61) + (lo & p). hi < 2^58 keeps
    * (hi << 3) | (lo >>> 61) overlap-free and the fold below 2^62.
    */
  @inline private def mulmodM(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    var r = (lo & MERSENNE_PRIME) + ((hi << 3) | (lo >>> 61))
    r = (r & MERSENNE_PRIME) + (r >>> 61)
    if (r >= MERSENNE_PRIME) r - MERSENNE_PRIME else r
  }

  /** x mod (2^61 - 1) for 0 <= x < 2^63. */
  @inline private def mersenneMod(x: Long): Long = {
    val v = (x & MERSENNE_PRIME) + (x >>> 61)
    if (v >= MERSENNE_PRIME) v - MERSENNE_PRIME else v
  }

  /** 32-bit FNV-1a shingle hash over a char window (lowercased text). */
  @inline private def shingleHash(s: String, start: Int, n: Int): Long = {
    var h = 0x811c9dc5L
    var i = start
    while (i < start + n) {
      h ^= s.charAt(i)
      h = (h * 0x01000193L) & 0xffffffffL
      i += 1
    }
    h
  }

  /** Reusable per-thread scratch for distinct-shingle collection: an
    * open-addressing table (linear probe, -1 = empty — FNV-1a values
    * are 32-bit non-negative so the sentinel can't collide) plus a
    * dense append array the permutation loop scans. The previous boxed
    * `java.util.HashSet[java.lang.Long]` churned ~90 KB/doc (~36 GB
    * over a 400k-doc corpus); at 32 task threads that allocation rate,
    * not GC pauses, was the signature stage's scaling limiter. Scratch
    * arrays persist per thread and are re-zeroed only over the
    * capacity a document actually needs.
    */
  private[dedup] final class ShingleScratch {
    private var table: Array[Long] = new Array[Long](1 << 12)
    private var dense: Array[Long] = new Array[Long](1 << 11)
    private var mask: Int = 0
    private var size: Int = 0

    /** Prepare for a doc with at most `capacity` distinct shingles. */
    def reset(capacity: Int): Unit = {
      // the table is the power of two ≥ 2 × capacity; past 2^29 that no
      // longer fits an Int-sized array
      require(capacity >= 0 && capacity <= (1 << 29), s"shingle capacity $capacity out of range")
      var cap = 1 << 12
      while (cap < capacity.toLong * 2) cap <<= 1
      if (table.length < cap) {
        table = new Array[Long](cap)
        dense = new Array[Long](cap >> 1)
      }
      mask = cap - 1
      java.util.Arrays.fill(table, 0, cap, -1L)
      size = 0
    }

    def add(h: Long): Unit = {
      // finalizer-style mix: FNV low bits alone cluster under the mask
      val x = h * -7046029254386353131L
      var idx = ((x ^ (x >>> 32)) & mask).toInt
      var v = table(idx)
      while (v != -1L) {
        if (v == h) return
        idx = (idx + 1) & mask
        v = table(idx)
      }
      table(idx) = h
      dense(size) = h
      size += 1
    }

    def values: Array[Long] = dense
    def count: Int = size
  }

  private val scratch: ThreadLocal[ShingleScratch] =
    ThreadLocal.withInitial(() => new ShingleScratch)

  /** Tables beyond this capacity are not retained per thread (a rare
    * giant doc shouldn't pin multi-MB scratch on every task thread). */
  private val MaxRetainedScratchCap = 1 << 21

  /** MinHash signature of one document. Each DISTINCT shingle updates
    * the permutations once (repeated shingles can't change a min); the
    * update uses exact Mersenne reduction instead of `%`.
    */
  def signature(text: String, p: Params, a: Array[Long], b: Array[Long]): Array[Long] = {
    val t = PyText.lower(text)
    val k = p.numPerm
    val n = p.charNgrams

    // distinct shingle hashes first (repeated shingles can't change a
    // min), then a permutation-major loop: a(j)/b(j)/running-min stay
    // in registers across the shingle scan instead of re-reading three
    // arrays per (shingle, permutation) pair — ~2x on long docs.
    var hs: Array[Long] = null
    var hn = 0
    if (t.length < n) {
      hs = Array(shingleHash(t + " ", 0, t.length + 1)) // short doc: one whole-text shingle
      hn = 1
    } else {
      val capacity = t.length - n + 1
      val s =
        if (capacity.toLong * 2 > MaxRetainedScratchCap) new ShingleScratch
        else scratch.get()
      s.reset(capacity)
      var i = 0
      val limit = t.length - n
      while (i <= limit) {
        s.add(shingleHash(t, i, n))
        i += 1
      }
      hs = s.values
      hn = s.count
    }

    val sig = new Array[Long](k)
    var j = 0
    while (j < k) {
      val aj = a(j)
      val bj = b(j)
      var m = Long.MaxValue
      var i = 0
      while (i < hn) {
        val v = mersenneMod(mulmodM(aj, hs(i)) + bj)
        if (v < m) m = v
        i += 1
      }
      sig(j) = m
      j += 1
    }
    sig
  }

  /** df(id, text) -> (id, sig: array<long>). */
  def signatures(df: DataFrame, p: Params = Params(),
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (a, b) = coefficients(p)
    val sigUdf = udf((text: String) => if (text == null) null else signature(text, p, a, b))
    df.select(col(idCol), sigUdf(col(textCol)).as("sig"))
  }

  /** (id, band, band_hash): one row per band — xxhash64 over the band's
    * slice of the signature (the reference's "b{i}_"+md5(bandvalues)
    * bucket key, lsh.py:176-182, with a cheaper non-cryptographic hash).
    */
  def bands(sigs: DataFrame, p: Params = Params(), idCol: String = "doc_id"): DataFrame = {
    val rows = p.rowsPerBand
    // plain index loops instead of grouped/zipWithIndex iterator
    // chains — identical per-element fold (including a short final
    // band when rows doesn't divide the signature), no boxing
    val bandUdf = udf((sig: Seq[Long]) =>
      if (sig == null) null // null-text rows carry null signatures
      else {
        val len = sig.length
        val nb = (len + rows - 1) / rows
        val out = new Array[Long](nb)
        var i = 0
        var idx = 0
        while (i < nb) {
          var h = 0x9e3779b97f4a7c15L + i
          val end = math.min(idx + rows, len)
          while (idx < end) {
            h = (h ^ sig(idx)) * 0xff51afd7ed558ccdL
            h ^= h >>> 33
            idx += 1
          }
          out(i) = h
          i += 1
        }
        out
      })
    sigs.select(col(idCol), posexplode(bandUdf(col("sig"))).as(Seq("band", "band_hash")))
  }

  /** Candidate edges: docs sharing any (band, band_hash) bucket. Within a
    * bucket we emit the consecutive-pair chain (reference
    * buckets_to_edges.py:30-91) — enough for connectivity, linear in
    * bucket size instead of quadratic.
    *
    * Formulated as a lag() window over the bucket key rather than
    * collect_list + explode: the edges are identical (consecutive pairs
    * of the ascending id order), but the work is one Tungsten sort per
    * shuffle partition instead of an ObjectHashAggregate building a
    * boxed list per bucket — ~40% less wall and far less allocation on
    * the 8M-row band table, which kept this stage from scaling past 8
    * threads in one shared heap.
    */
  def candidateEdges(df: DataFrame, p: Params = Params(),
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    edgesFromBands(bands(signatures(df, p, idCol, textCol), p, idCol), idCol)

  /** The consecutive-pair chain over a band table (the lag() window
    * described above), shared by the single-pass, stage-checkpointed
    * and incremental paths so the edge semantics cannot drift.
    */
  def edgesFromBands(b: DataFrame, idCol: String = "doc_id"): DataFrame =
    chainEdges(b, idCol).distinct()

  /** The raw consecutive-pair chain without the distinct — for consumers
    * whose downstream already dedups edges (ConnectedComponents.run
    * starts with its own distinct; a distinct here would just add an
    * exchange + aggregate round in front of it).
    */
  private[dedup] def chainEdges(b: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_hash").orderBy(idCol)
    b.withColumn("src", lag(col(idCol), 1).over(w))
      .filter(col("src").isNotNull) // first row of each bucket; singleton buckets emit nothing
      .select(col("src"), col(idCol).as("dst"))
  }

  /** Full fuzzy-dedup removal-id list: LSH candidates → connected
    * components → keep min id per component (reference
    * fuzzy/identify_duplicates.py:30-147 keep-first semantics).
    */
  def removalIds(df: DataFrame, p: Params = Params(),
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // chainEdges (not candidateEdges): CC.run dedups edges itself, so the
    // pre-distinct would be a redundant exchange + aggregate
    val edges = chainEdges(bands(signatures(df, p, idCol, textCol), p, idCol), idCol)
    val comps = ConnectedComponents.run(edges) // (id, component) — component = min id
    comps.filter(col("id") =!= col("component")).select(col("id").as(idCol))
  }

  def removeDuplicates(df: DataFrame, p: Params = Params(),
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.join(removalIds(df, p, idCol, textCol), Seq(idCol), "left_anti")

  /** Exact token-n-gram Jaccard verification of candidate pairs — joins
    * texts back only for candidates (tiny fraction of the corpus).
    *
    * Unlike [[candidateEdges]] (whose per-bucket CHAIN is enough for
    * connectivity but under-reports pairs whenever three co-bucketed
    * docs are mutually similar), the PAIRS contract needs every
    * within-bucket pair. To keep that from exploding on identical-text
    * cliques, docs are first collapsed to one representative per
    * distinct text (md5 groups), the band self-join runs all-pairs over
    * representatives only, and member×member pairs expand AFTER
    * verification — the candidate stage stays linear in clique size
    * while the (inherently quadratic) true-pair output is exact.
    */
  def verifiedPairs(df: DataFrame, p: Params = Params(), ngram: Int = 3,
                    minJaccard: Double = 0.8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // null texts can never pair (signatures() gives them null sigs and
    // ngramJaccard is undefined) — drop them BEFORE grouping, or md5's
    // null key would collapse them into one bogus J=1.0 clique
    val nonNull = df.filter(col(textCol).isNotNull)
    // materialized: groups feeds the rep semi-join and both
    // expansion consumers — a lazy cache() would recompute or pin
    val groups = Materialize(nonNull
      .groupBy(md5(to_binary(col(textCol), lit("utf-8"))).as("_th"))
      .agg(sort_array(collect_list(col(idCol))).as("ids")))
    val reps = groups.select(col("ids").getItem(0).as(idCol))
    // materialized: the banded view self-joins below and no
    // exchange sits under it, so without materialization BOTH join
    // sides would recompute the signature UDF pass from the scan.
    // Everything downstream reads nonNull (not df) — the null exclusion
    // is stated once at the source, same as the SimHash path
    val b = Materialize(
      bands(signatures(nonNull.join(reps, Seq(idCol), "left_semi"), p, idCol, textCol), p, idCol))
    val candPairs = b.as("l").join(b.as("r"),
        col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("src"), col(s"r.$idCol").as("dst"))
      .distinct()
    expandVerifiedGroups(
      verifyEdges(candPairs, nonNull, ngram, minJaccard, idCol, textCol), groups, minJaccard)
  }

  /** Expand verified representative pairs back to every group member:
    * cross-group member pairs inherit the rep pair's jaccard (texts are
    * identical within a group), intra-group pairs are J = 1.0 by
    * construction. Shared by the MinHash and SimHash pairs paths.
    */
  private[dedup] def expandVerifiedGroups(repPairs: DataFrame, groups: DataFrame,
                                          minJaccard: Double): DataFrame = {
    val byRep = groups.select(col("ids").getItem(0).as("_rep"), col("ids"))
    val cross = repPairs
      .join(byRep.withColumnRenamed("ids", "_src_ids"), col("src") === col("_rep")).drop("_rep")
      .join(byRep.withColumnRenamed("ids", "_dst_ids"), col("dst") === col("_rep")).drop("_rep")
      .select(explode(col("_src_ids")).as("_a"), col("_dst_ids"), col("jaccard"))
      .select(col("_a"), explode(col("_dst_ids")).as("_b"), col("jaccard"))
      .select(least(col("_a"), col("_b")).as("src"),
        greatest(col("_a"), col("_b")).as("dst"), col("jaccard"))
    // intra-group pairs: identical texts -> J exactly 1.0 (output-bound)
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x as src, y as dst))))")).as("p"))
      .select(col("p.src"), col("p.dst"), lit(1.0).as("jaccard"))
      .filter(lit(minJaccard) <= 1.0)
    cross.union(intra)
  }

  /** Shared verify step for any sketch's candidate edges (MinHash bands,
    * SimHash bands, …): join texts back ONLY for the candidates and keep
    * pairs whose exact token-n-gram Jaccard clears the threshold.
    */
  def verifyEdges(edges: DataFrame, df: DataFrame, ngram: Int, minJaccard: Double,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val jacc = udf((t1: String, t2: String) => ngramJaccard(t1, t2, ngram))
    val left = df.select(col(idCol).as("src"), col(textCol).as("_t1"))
    val right = df.select(col(idCol).as("dst"), col(textCol).as("_t2"))
    edges.join(left, "src").join(right, "dst")
      .withColumn("jaccard", jacc(col("_t1"), col("_t2")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("src"), col("dst"), col("jaccard"))
  }

  /** Token n-gram Jaccard similarity of two documents. */
  def ngramJaccard(t1: String, t2: String, n: Int): Double = {
    def grams(t: String): Set[String] = {
      val ws = PyText.splitWhitespace(PyText.lower(t))
      if (ws.length < n) Set(ws.mkString(" "))
      else ws.sliding(n).map(_.mkString(" ")).toSet
    }
    val g1 = grams(t1)
    val g2 = grams(t2)
    if (g1.isEmpty && g2.isEmpty) return 1.0
    val inter = g1.intersect(g2).size
    inter.toDouble / (g1.size + g2.size - inter)
  }
}
