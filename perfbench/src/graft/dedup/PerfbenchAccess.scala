package graft.dedup

import org.apache.spark.sql.DataFrame

/** The package-private chain-edge step the traced fuzzy run times on its
  * own. A forwarder only: the benchmark must call the same code
  * `MinHashLSH.removalIds` calls, not a copy of it.
  */
object PerfbenchAccess {
  def chainEdges(bands: DataFrame, idCol: String): DataFrame =
    MinHashLSH.chainEdges(bands, idCol)
}
