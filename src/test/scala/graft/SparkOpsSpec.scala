package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.{ConnectedComponents, ExactDedup, MinHashLSH, SimHash}
import graft.pipeline.{CurationPipeline, Stages}
import graft.sim.Knn

class SparkOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val ccPages = spark.read.parquet("src/test/resources/cc_pages_tiny")
    .withColumn("doc_id", xxhash64(col("url")))

  test("exact dedup finds the planted duplicate group and keeps exactly one") {
    // rows 8, 48, 88, ... (50 rows) share identical text (CCPages class 8)
    val docs = ccPages.select(col("doc_id"), col("url"), col("text"))
    val removals = ExactDedup.removalIds(docs).collect().map(_.getLong(0)).toSet
    val dupText = ccPages.filter(col("url").endsWith("/page/8"))
      .select("text").head.getString(0)
    val dupIds = docs.filter(col("text") === dupText)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectedGroup = (ccPages.count() / 40).toInt // rows 8, 48, 88, …
    assert(dupIds.size == expectedGroup, s"planted group size ${dupIds.size} != $expectedGroup")
    // exactly one of the identical-text group survives
    assert(removals.intersect(dupIds).size == dupIds.size - 1,
      s"expected ${dupIds.size - 1} of the planted group removed; got ${removals.intersect(dupIds).size}")
    val kept = ExactDedup.removeDuplicates(docs)
    assert(kept.count() == docs.count() - removals.size)
    // dedup is idempotent
    assert(ExactDedup.removalIds(kept).count() == 0)
  }

  test("connected components: chain + triangle + isolated pair") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("src", "dst")
    val comps = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(comps(21L) == 20L)
  }

  test("minhash LSH: near-duplicate pair lands in the same bucket; unrelated docs do not") {
    val base = "the quick brown fox jumps over the lazy dog and that is how stories have always started with people who walk through rain for reasons of their own choosing while others wait at home"
    val near = base + " extra tail words here"
    val far = "completely different content about databases indexes queries shuffles partitions joins aggregations windows and the optimizer choosing physical plans for distributed execution on large clusters"
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val edges = MinHashLSH.candidateEdges(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((1L, 2L)) || edges.contains((2L, 1L)), s"near-dup pair missed: $edges")
    assert(!edges.exists(e => e._1 == 3L || e._2 == 3L), s"false candidate with unrelated doc: $edges")
    val removals = MinHashLSH.removalIds(docs).collect().map(_.getLong(0)).toSet
    assert(removals == Set(2L))
  }

  test("chain edges are connectivity-equivalent to all within-bucket pairs") {
    // the lag-window chain builder rests on this claim: per bucket it
    // emits only consecutive-pair edges, but the connected components
    // (hence the removal sets) must equal those of the full pair set.
    // Randomized bucket assignment with multi-band overlap and
    // singletons, fixed seed.
    val rnd = new scala.util.Random(42)
    val rows = for {
      id <- 0L until 80L
      band <- 0 until 3
    } yield (band, s"b${rnd.nextInt(10)}", id)
    val b = rows.toDF("band", "band_hash", "doc_id")
    val chain = ConnectedComponents.run(MinHashLSH.edgesFromBands(b))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a1 = b.select(col("band"), col("band_hash"), col("doc_id").as("src"))
    val a2 = b.select(col("band"), col("band_hash"), col("doc_id").as("dst"))
    val allPairs = a1.join(a2, Seq("band", "band_hash")).filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
    val full = ConnectedComponents.run(allPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chain == full, s"chain components diverge from all-pairs components")
  }

  test("minhash jaccard estimate tracks exact n-gram jaccard") {
    assert(MinHashLSH.ngramJaccard("a b c d e", "a b c d e", 3) == 1.0)
    assert(MinHashLSH.ngramJaccard("a b c d e", "v w x y z", 3) == 0.0)
  }

  test("simhash: identical texts distance 0, near texts small distance, far texts large") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = a + " again"
    val c = "tables indexes shuffles partitions optimizers executors stages tasks plans codegen"
    assert(SimHash.hamming(SimHash.simhash64(a), SimHash.simhash64(a)) == 0)
    assert(SimHash.hamming(SimHash.simhash64(a), SimHash.simhash64(b)) <= 8)
    assert(SimHash.hamming(SimHash.simhash64(a), SimHash.simhash64(c)) > 10)
  }

  test("LSH ANN recall vs brute force on fixture embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0) // 5 queries
    val exact = Knn.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Knn.lshTopK(emb, queries, 5, dim = 64, tables = 32, bits = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"LSH recall@5 = $recall%.2f (${approx.size} approx results)")
    // i.i.d. gaussian vectors are the adversarial case for SRP-LSH (no
    // cluster structure); the contract here is candidate pruning + recall
    // meaningfully above the ~1.5% random-candidate floor
    assert(recall >= 0.2, s"LSH recall collapsed: $recall")
  }

  test("splitter/joiner round trip is identity") {
    val docs = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    val split = Stages.split(" ")(docs)
    assert(split.count() == 5)
    val rejoined = Stages.join(" ")(split).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rejoined == Seq((1L, "a b c"), (2L, "x y")))
  }

  test("scoreFilter stage matches direct filter; invert flips") {
    val f = graft.filters.HeuristicFilters.WordCount(2, 3)
    val docs = Seq("one", "two words", "one two three four").toDF("text")
    assert(Stages.scoreFilter(f)(docs).as[String].collect().toSeq == Seq("two words"))
    assert(Stages.scoreFilter(f, invert = true)(docs).as[String].collect().toSet ==
      Set("one", "one two three four"))
  }

  test("filterByScore keeps rows whose score column passes; invert flips") {
    val f = graft.filters.HeuristicFilters.WordCount(2, 3)
    val docs = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0), ("d", 5.0)).toDF("text", "wc")
    assert(Stages.filterByScore(f, "wc")(docs).select("text").as[String].collect().toSeq ==
      Seq("b", "c"))
    assert(Stages.filterByScore(f, "wc", invert = true)(docs).select("text").as[String]
      .collect().toSeq == Seq("a", "d"))
  }

  test("addId: the id is prefix_<xxhash64 of the key column>") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val urls = Seq("https://a.example/1", "https://b.example/2", "")
    // Spark's xxhash64 of a string: XXH64 over its UTF-8 bytes, seed 42
    def xxh(s: String): Long = {
      val u = UTF8String.fromString(s)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    }
    val withDefault = Stages.addId("url")(urls.toDF("url")).as[(String, String)].collect().toMap
    assert(withDefault == urls.map(u => u -> s"doc_${xxh(u)}").toMap)
    val custom = Stages.addId("url", prefix = "cc", idCol = "key")(urls.toDF("url"))
    assert(custom.columns.toSeq == Seq("url", "key"))
    assert(custom.as[(String, String)].collect().forall { case (u, k) => k == s"cc_${xxh(u)}" })
  }

  test("scoreFilter(retainScore = true) scores each row once") {
    val evals = spark.sparkContext.longAccumulator("scoreFilter evals")
    val f = CountingFilter(graft.filters.HeuristicFilters.WordCount(2, 3), evals)
    // 91 of 1,000 rows are one word and dropped
    val docs = spark.range(1000)
      .select(when(col("id") % 11 === 0, lit("one")).otherwise(lit("two words")).as("text"))
    val kept = Stages.scoreFilter(f, retainScore = true)(docs).collect()
    assert(kept.length == 909)
    assert(kept.forall(_.getAs[Double]("score_word_count") == 2.0))
    assert(evals.value == 1000L)
  }

  test("curation pipeline end to end on cc_pages: keeps clean prose, drops planted junk, scrubs PII") {
    val curated = CurationPipeline.curate(ccPages.limit(400)).cache()
    val byClass = curated.withColumn("cls", expr("cast(regexp_extract(url, '/page/([0-9]+)$', 1) as long) % 10"))
    val keepRate = byClass.filter(col("cls") < 5).agg(avg(col("keep").cast("double"))).head.getDouble(0)
    assert(keepRate > 0.9, s"clean-class keep rate $keepRate")
    val pii = byClass.filter(col("cls") === 6 && col("keep"))
    val scrubbed = pii.select("scrubbed_text").as[String].collect()
    assert(scrubbed.nonEmpty)
    assert(scrubbed.forall(t => t.contains("{EMAIL}") && t.contains("{IP}") && t.contains("{PHONE}")),
      "PII must be scrubbed from kept docs")
    assert(scrubbed.forall(t => !t.contains("@example.com")))
    val prof = byClass.filter(col("cls") === 7 && col("keep")).select("scrubbed_text").as[String].collect()
    assert(prof.forall(t => !t.toLowerCase.contains("fuck")), "profanity must be scrubbed")
    curated.unpersist()
  }

  test("curateFromHtml: html-only input produces text and verdicts") {
    val out = CurationPipeline.curateFromHtml(ccPages.limit(100).drop("text"))
    assert(out.count() > 80) // some pages lose all paragraphs to the density gate
    assert(out.columns.contains("keep") && out.columns.contains("text"))
  }

  test("SparkEntry.entry: the curated sf0.001 documents with the contract columns") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq ==
      Seq("doc_id", "keep", "first_reject", "quality_score", "token_count", "scrubbed_text"))
    assert(df.count() == 500)
  }
}

/** A filter that counts its score evaluations. */
final case class CountingFilter(inner: graft.filters.DocFilter,
                                evals: org.apache.spark.util.LongAccumulator)
    extends graft.filters.DocFilter {
  val name = inner.name
  def scoreCtx(ctx: graft.filters.DocCtx): Double = { evals.add(1); inner.scoreCtx(ctx) }
  def keep(score: Double): Boolean = inner.keep(score)
}
