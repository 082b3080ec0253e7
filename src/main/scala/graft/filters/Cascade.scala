package graft.filters

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequential filter cascade with early-exit semantics.
  *
  * The reference applies each ScoreFilter stage in order, dropping rows
  * before the next stage runs (heuristic_filter_english_pipeline.yaml:50-239
  * + modules/score_filter.py:331-335). The final keep-set equals the
  * conjunction, but per-filter drop attribution needs the FIRST rejecting
  * filter — so we evaluate all filters for a document in cascade order in
  * ONE pass (one UDF call per row, no per-stage shuffle or scan), stopping
  * at the first reject. Scores after the rejecting filter are NaN
  * (never evaluated — matching the reference, where those stages never saw
  * the row).
  */
object Cascade extends Serializable {

  final case class Verdict(keep: Boolean, firstReject: String, scores: Array[Double])

  def evaluate(filters: Array[DocFilter], text: String): Verdict =
    evaluate(filters, new DocCtx(text))

  /** Evaluate over a caller-supplied DocCtx so the caller can reuse the
    * tokenization for its own per-doc work (CurationPipeline.annotate).
    */
  def evaluate(filters: Array[DocFilter], ctx: DocCtx): Verdict = {
    val scores = Array.fill(filters.length)(Double.NaN)
    var i = 0
    while (i < filters.length) {
      val f = filters(i)
      val s = f.scoreCtx(ctx)
      scores(i) = s
      if (!f.keep(s)) return Verdict(keep = false, f.name, scores)
      i += 1
    }
    Verdict(keep = true, null, scores)
  }

  /** Convenience: df(text) -> df + keep/first_reject + score_<name> cols.
    *
    * The verdict UDF is marked nondeterministic ON PURPOSE (it is pure):
    * that stops Catalyst from duplicating the expensive 28-filter
    * evaluation when a downstream `filter(keep)` would otherwise be
    * pushed beneath the projection (observed: kept rows evaluated the
    * cascade twice — once in the pushed Filter, once in the Project).
    */
  def score(df: DataFrame, filters: Array[DocFilter] = HeuristicFilters.englishCascade,
            textCol: String = "text", explodeScores: Boolean = false): DataFrame = {
    val fs = filters
    val u = udf((text: String) => {
      if (text == null) Verdict(keep = false, "null_text", Array.fill(fs.length)(Double.NaN))
      else evaluate(fs, text)
    }).asNondeterministic()
    val withV = df.withColumn("_verdict", u(col(textCol)))
    val base = withV
      .withColumn("keep", col("_verdict.keep"))
      .withColumn("first_reject", col("_verdict.firstReject"))
    val out =
      if (!explodeScores) base
      else filters.zipWithIndex.foldLeft(base) { case (d, (f, i)) =>
        d.withColumn(s"score_${f.name}", col("_verdict.scores").getItem(i))
      }
    out.drop("_verdict")
  }
}
