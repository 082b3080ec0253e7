package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class BenchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestBase.spark

  private def docs: DataFrame = spark.read.parquet("src/test/resources/cc_pages_tiny")
    .limit(50).withColumn("doc_id", xxhash64(col("url")))

  /** ScalaUDFs in the executed plan, after the frame has run. */
  private def executedUdfs(df: DataFrame): Int = {
    df.collect()
    flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
      .size
  }

  test("the MinHash frame Bench times runs the signature UDF") {
    // control: a bare count prunes `sig` and the UDF with it
    assert(executedUdfs(dedup.MinHashLSH.signatures(docs).groupBy().count()) == 0)
    assert(executedUdfs(Bench.minhashSignatures(docs)) == 1)
  }
}
