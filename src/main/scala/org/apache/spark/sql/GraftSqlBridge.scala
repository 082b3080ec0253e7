package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal accessor for `private[sql]` Column↔Expression plumbing, the
  * standard pattern for libraries that ship native Catalyst expressions
  * against Spark 4 (the classic `new Column(expr)` constructor is no
  * longer public), plus the two package-private Spark calls the library
  * needs: InternalRow → DataFrame and releasing a shuffle.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** InternalRow RDD → DataFrame without a row-encoder round trip —
    * for mapPartitions operators that build InternalRows directly
    * (batched synthetic generation).
    */
  def internalCreateDataFrame(spark: SparkSession,
                              rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Delete a shuffle's files and map outputs now, as the context cleaner
    * would once the shuffle is garbage collected. */
  def releaseShuffle(sc: org.apache.spark.SparkContext, shuffleId: Int): Unit =
    sc.cleaner.foreach(_.doCleanupShuffle(shuffleId, blocking = true))
}
