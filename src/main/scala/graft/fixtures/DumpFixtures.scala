package graft.fixtures

import org.apache.spark.sql.SaveMode

/** Writes the deterministic cc_pages fixture (FIXTURES.md F1) used by the
  * reference-parity tests. Run once; output is committed so
  * `sbt -batch test` needs no generation step:
  *
  *   sbt "runMain graft.fixtures.DumpFixtures src/test/resources/cc_pages_tiny 2000"
  */
object DumpFixtures {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "src/test/resources/cc_pages_tiny"
    val rows = if (args.length > 1) args(1).toLong else 2000L
    val spark = graft.Session("graft-dump-fixtures")
    CCPages.generate(spark, rows, partitions = 4)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(out)
    println(s"wrote $rows cc_pages rows to $out")
    spark.stop()
  }
}
