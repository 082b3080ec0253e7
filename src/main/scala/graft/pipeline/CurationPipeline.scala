package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.filters.{Cascade, HeuristicFilters}
import graft.scrub.PiiScrub
import graft.analysis.TextStats
import graft.extract.HtmlExtract

/** The flagship end-to-end curation job over a Common-Crawl-style table
  * (url, warc_ts, html, text, lang):
  *
  *   1. (optional) html → text extraction with decode fallback
  *   2. language ID (heuristic n-gram scorer; broadcastable trained model
  *      variant in [[graft.langid.CharNgramLangId]])
  *   3. 28-stage English heuristic cascade → keep / first_reject / scores
  *   4. PII scrub (emails → IPs → phones) + profanity scrub on kept rows
  *   5. quality + token-count annotations
  *
  * All five steps run inside ONE UDF call per row (one text handoff, one
  * codegen stage, shared tokenization): no shuffle anywhere — the
  * 100 TB plan is scan → compute → write, partitioned by input splits.
  * Skew is irrelevant until the optional dedup stage (which shuffles
  * only (id, hash)).
  */
object CurationPipeline {

  final case class Annotations(
      keep: Boolean,
      firstReject: String,
      langPred: String,
      langScore: Double,
      quality: Double,
      tokens: Int,
      scrubbed: String)

  def annotate(text: String): Annotations = {
    if (text == null) return Annotations(keep = false, "null_text", "und", 0.0, 0.0, 0, null)
    // one DocCtx shared by the cascade and the quality score — the
    // document is word/sentence-tokenized once per row, not once per
    // consumer (identical tokenization definitions)
    val ctx = new graft.filters.DocCtx(text)
    val v = Cascade.evaluate(HeuristicFilters.englishCascade, ctx)
    val (langPred, langScore) = TextStats.heuristicLangId(text)
    val quality = TextStats.qualityScoreParts(text, ctx.words, ctx.sentences)
    val tokens = TextStats.bpeTokenCount(text)
    // scrubbing only pays for kept rows (dropped rows ship no text)
    val scrubbed =
      if (v.keep) PiiScrub.defaultScrubber.scrub(PiiScrub.scrubPii(text)) else null
    Annotations(v.keep, v.firstReject, langPred, langScore, quality, tokens, scrubbed)
  }

  /** text-based curation: input must have a text column. The annotation
    * UDF is marked nondeterministic (it is pure) so Catalyst never
    * re-evaluates it per extracted field or beneath a pushed filter.
    */
  def curate(df: DataFrame, textCol: String = "text"): DataFrame = {
    val u = udf((t: String) => annotate(t)).asNondeterministic()
    df.withColumn("_ann", u(col(textCol)))
      .withColumn("keep", col("_ann.keep"))
      .withColumn("first_reject", col("_ann.firstReject"))
      .withColumn("lang_pred", struct(col("_ann.langPred").as("_1"), col("_ann.langScore").as("_2")))
      .withColumn("scrubbed_text", col("_ann.scrubbed"))
      .withColumn("quality_score", col("_ann.quality"))
      .withColumn("token_count", col("_ann.tokens"))
      .drop("_ann")
  }

  /** html-bytes based: decode + extract first, drop rows that fail
    * extraction (reference extract.py:86-99), then curate.
    */
  def curateFromHtml(df: DataFrame, htmlCol: String = "html"): DataFrame = {
    val extractUdf = udf((b: Array[Byte]) => HtmlExtract.extractFromBytes(b).orNull)
    val extracted = df
      .withColumn("extracted_text", extractUdf(col(htmlCol)))
      .filter(col("extracted_text").isNotNull)
    curate(extracted.drop("text").withColumnRenamed("extracted_text", "text"))
  }

  /** Kept-only output with scrubbed text as the payload. */
  def keptOutput(curated: DataFrame): DataFrame =
    curated.filter(col("keep"))
      .drop("text")
      .withColumnRenamed("scrubbed_text", "text")

  /** Per-filter drop metrics, the reference's StagePerfStats analogue
    * (utils/performance_utils.py:31-60): one narrow aggregation over
    * first_reject, no extra pass over text. */
  def metrics(curated: DataFrame): DataFrame =
    curated.groupBy(coalesce(col("first_reject"), lit("__kept__")).as("filter"))
      .agg(count(lit(1)).as("docs"))
}
