package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.filters.DocFilter

/** The reference's stage algebra (Score / Filter / ScoreFilter / Modify /
  * AddId / DocumentSplitter / DocumentJoiner — stages/text/modules/) as
  * composable DataFrame → DataFrame functions. Catalyst fuses chains of
  * these into one whole-stage-codegen'd pass; stage hops cost nothing
  * (unlike the reference's actor-to-actor object-store hops).
  */
object Stages {

  type Stage = DataFrame => DataFrame

  /** Score: add a score column (modules/score_filter.py:28-120). */
  def score(filter: DocFilter, textCol: String = "text", scoreCol: String = null): Stage = {
    val out = if (scoreCol == null) s"score_${filter.name}" else scoreCol
    df => df.withColumn(out, udf((t: String) => filter.score(t)).apply(col(textCol)))
  }

  /** Filter: keep rows passing the keep fn over an existing score column
    * (modules/score_filter.py:123-217); invert flips.
    */
  def filterByScore(filter: DocFilter, scoreCol: String, invert: Boolean = false): Stage = {
    val keepUdf = udf((s: Double) => filter.keep(s))
    df => if (invert) df.filter(!keepUdf(col(scoreCol))) else df.filter(keepUdf(col(scoreCol)))
  }

  /** ScoreFilter: score + keep in one pass (modules/score_filter.py:220-347).
    * retainScore keeps the score column (score_field != null in reference).
    */
  def scoreFilter(filter: DocFilter, textCol: String = "text",
                  retainScore: Boolean = false, invert: Boolean = false): Stage = { df =>
    val f = filter
    // nondeterministic so the keep filter is not pushed below the
    // projection with the UDF inlined into it: that scored each kept
    // row twice
    val u = udf((t: String) => {
      val s = f.score(t)
      (s, f.keep(s))
    }).asNondeterministic()
    val scored = df.withColumn("_sf", u(col(textCol)))
    val kept = scored.filter(if (invert) !col("_sf._2") else col("_sf._2"))
    if (retainScore) kept.withColumn(s"score_${f.name}", col("_sf._1")).drop("_sf")
    else kept.drop("_sf")
  }

  /** Modify: in-place or new-column text transform (modules/modifier.py:23-98). */
  def modify(fn: String => String, textCol: String = "text", outCol: String = null): Stage = {
    val out = if (outCol == null) textCol else outCol
    df => df.withColumn(out, udf((t: String) => if (t == null) null else fn(t)).apply(col(textCol)))
  }

  /** AddId (modules/add_id.py:24-82): deterministic variant — prefix +
    * xxhash64 of a key column (the reference's uuid+cumcount id is
    * nondeterministic across runs; content-derived ids survive retries
    * and resume, which matters for checkpointed lineage).
    */
  def addId(keyCol: String, prefix: String = "doc", idCol: String = "id"): Stage =
    df => df.withColumn(idCol, concat_ws("_", lit(prefix), xxhash64(col(keyCol)).cast("string")))

  /** DocumentSplitter (modules/splitter.py:22-94): split on separator →
    * one row per segment with segment_id = position.
    */
  def split(separator: String, textCol: String = "text",
            segmentIdCol: String = "segment_id"): Stage = { df =>
    val others = df.columns.filter(_ != textCol).map(col)
    df.select(others :+ posexplode(split_part_all(col(textCol), separator)).as(Seq(segmentIdCol, textCol)): _*)
  }

  // split() on a literal separator, preserving empty segments (Python
  // str.split(sep) semantics, not the regex-trimming Spark default)
  private def split_part_all(c: Column, sep: String): Column =
    org.apache.spark.sql.functions.split(c, java.util.regex.Pattern.quote(sep), -1)

  /** DocumentJoiner (modules/joiner.py:24-193): group by id, order by
    * segment_id, rejoin with separator. One shuffle on the id.
    */
  def join(separator: String, idCol: String = "doc_id", textCol: String = "text",
           segmentIdCol: String = "segment_id"): Stage = { df =>
    df.groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(segmentIdCol), col(textCol).as("t")))),
          s => s.getField("t")),
        separator).as(textCol))
  }

  /** DocumentJoiner max_length mode (modules/joiner.py:24-193): rejoin
    * segments in order but re-chunk greedily so each output document stays
    * ≤ maxLength characters; emits (id, chunk_id, text) — one row per
    * chunk. Oversized single segments become their own chunk.
    */
  def joinMaxLength(separator: String, maxLength: Int, idCol: String = "doc_id",
                    textCol: String = "text", segmentIdCol: String = "segment_id"): Stage = { df =>
    val chunker = udf((segs: Seq[String]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      for (s <- segs) {
        val addLen = if (cur.isEmpty) s.length else separator.length + s.length
        if (cur.nonEmpty && cur.length + addLen > maxLength) {
          out += cur.toString
          cur.clear()
        }
        if (cur.nonEmpty) cur ++= separator
        cur ++= s
      }
      if (cur.nonEmpty) out += cur.toString
      out.toSeq
    })
    df.groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col(segmentIdCol), col(textCol).as("t")))),
        s => s.getField("t")).as("_segs"))
      .select(col(idCol), posexplode(chunker(col("_segs"))).as(Seq("chunk_id", textCol)))
  }

  /** Chain stages left-to-right. */
  def pipeline(stages: Stage*): Stage = df => stages.foldLeft(df)((d, s) => s(d))
}
