package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication: hash the text, keep the first document per hash
  * group, emit the rest as removal ids.
  *
  * Reference: stages/deduplication/exact/identification.py:33-207 — md5
  * of the text column (:168), shuffle on the hash, keep-first within the
  * group, removal ids sorted (:113-122); removal applied as an
  * anti-semijoin (stages/text/deduplication/removal.py:37-120).
  *
  * Spark-first shape: the reference's hand-rolled actor shuffle collapses
  * to one hash-partitioned window. At 100 TB the shuffle carries only
  * (hash, id) — project before shuffling, never the text. AQE handles
  * skewed hash groups (identical boilerplate pages).
  */
object ExactDedup {

  /** (id, md5) — the only columns that ever shuffle. */
  def hashed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(to_binary(col(textCol), lit("utf-8"))).as("_dup_hash"))

  /** Removal ids: every doc after the first (by id) within an identical-
    * text group. row_number over (hash, id) — one shuffle, map-side
    * projected to two columns.
    */
  def removalIds(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy("_dup_hash").orderBy(col(idCol))
    hashed(df, idCol, textCol)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col(idCol))
  }

  /** Anti-join removal (reference removal.py:86-89 `isin` → left_anti).
    * The removal side is a thin id list — Spark broadcasts it when small;
    * at scale AQE picks sort-merge with dynamic pruning.
    */
  def removeDuplicates(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.join(removalIds(df, idCol, textCol), Seq(idCol), "left_anti")
}
