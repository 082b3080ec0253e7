package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for web-scale keys (north rule: "salted repartitioning
  * for skewed domains/languages").
  *
  * Web corpora are Zipf-skewed: a handful of domains/languages carry a
  * large share of the rows, so `repartition(lang)` or a groupBy on
  * domain melts a few reducers. Two tools:
  *
  *   - [[saltedRepartition]]: spread each hot key over `saltBuckets`
  *     partitions while keeping co-location of (key, salt) — right before
  *     expensive per-row scoring, so every core stays busy regardless of
  *     key skew.
  *   - [[saltedAggregate]]: two-phase aggregation (partial per salt,
  *     final per key) for algebraic aggregates over skewed keys —
  *     the classic map-side-combine pattern made explicit.
  *
  * AQE (spark.sql.adaptive.skewJoin) already rescues skewed JOINS at
  * runtime; these helpers cover the scoring/aggregation paths AQE does
  * not reach.
  */
object Salting {

  /** Deterministic salt derived from a unique row key like url (stable
    * across retries).
    */
  def saltColBy(rowKey: Column, saltBuckets: Int): Column =
    pmod(xxhash64(rowKey), lit(saltBuckets))

  /** Repartition by (key, salt(rowKey)): hot keys spread over
    * saltBuckets partitions, cold keys stay co-located cheaply.
    */
  def saltedRepartition(df: DataFrame, key: String, rowKey: String,
                        saltBuckets: Int = 16, numPartitions: Int = 0): DataFrame = {
    val salted = df.withColumn("_salt", saltColBy(col(rowKey), saltBuckets))
    val out =
      if (numPartitions > 0) salted.repartition(numPartitions, col(key), col("_salt"))
      else salted.repartition(col(key), col("_salt"))
    out.drop("_salt")
  }

  /** Two-phase count/sum aggregate over a skewed key:
    * groupBy(key, salt) partial → groupBy(key) final. Exposed for
    * aggregates Catalyst can't partial-combine itself (e.g. when the
    * caller's expression contains a non-algebraic UDAF); for plain
    * sum/count Spark already map-side combines.
    */
  def saltedCount(df: DataFrame, key: String, rowKey: String,
                  saltBuckets: Int = 16): DataFrame =
    df.withColumn("_salt", saltColBy(col(rowKey), saltBuckets))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").as("cnt"))
}
