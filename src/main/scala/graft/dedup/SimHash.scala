package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize
import graft.text.PyText

/** SimHash near-duplicate detection (Charikar 2002; Manku et al. 2007,
  * "Detecting Near-Duplicates for Web Crawling").
  *
  * 64-bit simhash over word unigrams + bigrams; near-dup candidates found
  * by banding the fingerprint into maxHamming+1 keys (the Manku
  * pigeonhole trick: a pair within Hamming distance h differs in at most
  * h bands, so with h+1 bands at least one band matches — candidate
  * recall is GUARANTEED, not probabilistic), then verifying exact
  * Hamming distance on the candidates. Complements MinHash: one long
  * per doc instead of 260.
  */
object SimHash {

  @inline private def tokenHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    // finalize so bit positions are balanced
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  def simhash64(text: String): Long = {
    val ws = PyText.splitWhitespace(PyText.lower(text))
    val v = new Array[Int](64)
    def add(h: Long): Unit = {
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
    }
    var i = 0
    while (i < ws.length) {
      add(tokenHash(ws(i)))
      if (i + 1 < ws.length) add(tokenHash(ws(i) + " " + ws(i + 1)))
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Pigeonhole banding: maxHamming+1 bands covering all 64 bits (wider
    * bands first when 64 doesn't divide evenly) — guarantees any pair
    * with Hamming distance <= maxHamming collides in >= 1 band.
    */
  private def bandStructs(maxHamming: Int): org.apache.spark.sql.Column = {
    val bands = maxHamming + 1
    val base = 64 / bands
    val extra = 64 % bands
    var offset = 0
    val structs = (0 until bands).map { i =>
      val width = base + (if (i < extra) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      val st = struct(lit(i).as("band"),
        shiftright(col("simhash"), offset).bitwiseAND(lit(mask)).as("key"))
      offset += width
      st
    }
    explode(array(structs: _*))
  }

  /** df(id, text) -> (id, simhash). */
  def fingerprints(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val u = udf((t: String) => if (t == null) 0L else simhash64(t))
    df.select(col(idCol), u(col(textCol)).as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxHamming. Only (id, hash)
    * shuffles; band join is equi-join on 16-bit keys.
    *
    * The PAIRS contract is quadratic in true cliques (every member×
    * member pair is an answer), but the candidate/shuffle stage needn't
    * be: identical fingerprints collapse to one representative before
    * the band self-join, and member pairs expand only at output — a
    * 1000-doc identical-boilerplate clique contributes 1 banded row
    * (not ~500k shuffled candidates); its C(1000,2) hamming-0 output
    * pairs generate linearly per group row with no join. Cross-group
    * pairs inherit their group pair's (constant) hamming, so the
    * output is bit-identical to banding every member.
    */
  def nearDupPairs(df: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // materialized: groups feeds the rep self-join and both
    // expansion consumers — a lazy cache() would recompute the UDF
    val groups = Materialize(fingerprints(df, idCol, textCol)
      .groupBy("simhash")
      .agg(sort_array(collect_list(col(idCol))).as("ids")))

    // intra-group: all C(|ids|, 2) pairs at hamming 0, generated
    // per-row (combinations via nested transform — no self-join)
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
             transform(slice(ids, i + 2, size(ids) - i - 1), y ->
               struct(x as src, y as dst))))""")).as("e"))
      .select(col("e.src"), col("e.dst"), lit(0).as("hamming"))

    // cross-group: band over one rep per distinct fingerprint, then
    // expand both member lists (ids are sorted; the smaller-first pair
    // order of the member pair is restored with least/greatest)
    val repPairs = bandedCandidates(
      groups.select(col("ids").getItem(0).as("id"), col("simhash")),
      maxHamming, keepHamming = true)
    val srcSide = groups.select(col("ids").getItem(0).as("src"), col("ids").as("_srcIds"))
    val dstSide = groups.select(col("ids").getItem(0).as("dst"), col("ids").as("_dstIds"))
    val cross = repPairs
      .join(srcSide, "src").join(dstSide, "dst")
      .select(explode(col("_srcIds")).as("_a"), col("_dstIds"), col("hamming"))
      .select(col("_a"), explode(col("_dstIds")).as("_b"), col("hamming"))
      .select(least(col("_a"), col("_b")).as("src"),
        greatest(col("_a"), col("_b")).as("dst"), col("hamming"))

    intra.union(cross)
  }

  /** Removal ids via connected components over near-dup pairs.
    *
    * Identical fingerprints are collapsed FIRST (consecutive-pair chain
    * per fingerprint group — linear), and the banded Hamming search runs
    * over one representative per distinct fingerprint. Web corpora have
    * huge identical-boilerplate cliques: a 5000-doc clique banded
    * member-by-member melted into 12.5M candidate edges; the chain
    * emits 4,999.
    */
  /** Candidate pairs verified by exact token-n-gram Jaccard — the
    * sketch-then-verify shape (same as MinHashLSH.verifiedPairs): the
    * simhash bands propose, the exact measure disposes. Text joins back
    * only for the candidate pairs.
    *
    * Candidate generation is clique-collapsed: docs with identical
    * (fingerprint, text) form one group, the band self-join runs over
    * ONE representative per group, and member×member pairs expand only
    * AFTER verification — a 1000-doc identical-boilerplate clique
    * contributes 1 banded row and zero candidate pairs instead of
    * ~500k (the pairs CONTRACT is quadratic in true cliques; the
    * candidate stage needn't be). Grouping keys include md5(text), so
    * every member of a group shares its representative's Jaccard with
    * any cross-group counterpart exactly (identical texts), and
    * intra-group pairs are J = 1.0 by construction — the output is
    * bit-identical to banding every member.
    */
  def verifiedNearDupPairs(df: DataFrame, maxHamming: Int = 4, minJaccard: Double = 0.5,
                           ngram: Int = 3, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val fpU = udf((t: String) => if (t == null) 0L else simhash64(t))
    // null texts can never pair (ngramJaccard is undefined for them) —
    // drop before grouping, or md5's null key would collapse them into
    // one bogus J=1.0 clique (same guard as MinHashLSH.verifiedPairs)
    // materialized: groups feeds reps and both expansion
    // consumers — a lazy cache() would recompute the fingerprint UDF
    val groups = Materialize(df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), md5(to_binary(col(textCol), lit("utf-8"))).as("_th"),
        fpU(col(textCol)).as("simhash"))
      .groupBy("simhash", "_th")
      .agg(sort_array(collect_list(col(idCol))).as("ids")))

    val repPairs = MinHashLSH.verifyEdges(
      bandedCandidates(groups.select(col("ids").getItem(0).as("id"), col("simhash")), maxHamming),
      df, ngram, minJaccard, idCol, textCol)

    MinHashLSH.expandVerifiedGroups(repPairs, groups, minJaccard)
  }

  /** Banded Hamming candidate pairs over (id, simhash) rows — the
    * pigeonhole self-join, shared by every pair path (run it over
    * clique representatives to keep candidates clique-free).
    */
  private[dedup] def bandedCandidates(fp: DataFrame, maxHamming: Int,
                                      keepHamming: Boolean = false): DataFrame = {
    val banded = fp.select(
      col("id"), col("simhash"), bandStructs(maxHamming).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    val ham = udf((a: Long, b: Long) => hamming(a, b))
    val pairs = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("src"), col("r.id").as("dst"),
        ham(col("l.simhash"), col("r.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    if (keepHamming) pairs else pairs.select(col("src"), col("dst"))
  }

  def removalIds(df: DataFrame, maxHamming: Int = 3,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // materialized: groups feeds two consumers (chain edges and
    // representatives) — a lazy cache() here would either recompute the
    // fingerprint UDF twice or pin memory with no unpersist point
    val groups = Materialize(fingerprints(df, idCol, textCol)
      .groupBy("simhash")
      .agg(sort_array(collect_list(col(idCol))).as("ids")))
    val chainEdges = groups.filter(size(col("ids")) > 1)
      .select(explode(expr(
        "transform(slice(ids, 1, size(ids) - 1), (x, i) -> struct(x as src, ids[i + 1] as dst))")).as("e"))
      .select(col("e.src"), col("e.dst"))
    // banded Hamming candidates between DISTINCT fingerprints
    val crossEdges = bandedCandidates(
      groups.select(col("ids").getItem(0).as("id"), col("simhash")), maxHamming)

    ConnectedComponents.run(chainEdges.union(crossEdges))
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
  }
}
