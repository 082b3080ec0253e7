package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/compare_oracle.py).
  * A failed entry does not stop the dump; the run ends by naming every
  * failed entry and exiting 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only those queries (iteration aid;
    // the driver always runs the full board)
    val only = args.drop(2).toSet
    val spark = Session("graft-verify")
    // split the single-file sf tables so per-row UDF stages
    // parallelize (see Bench.scala note)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: $e")
        Some(name -> e)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} failed: " +
        failures.map { case (name, e) => s"$name ($e)" }.mkString("; "))
      sys.exit(1)
    }
  }
}
