package graft

import org.apache.spark.sql.DataFrame

/** The one way an intermediate is computed once and its lineage cut.
  *
  * When the deployment has set a checkpoint directory (Spark's own
  * `spark.checkpoint.dir`, or `SparkContext.setCheckpointDir`), the frame
  * is written there with a reliable checkpoint, so a lost executor costs
  * a re-read, not the job. Otherwise it is a local checkpoint: blocks in
  * executor storage, which is what local runs, tests and benchmarks use.
  * Either way the checkpoint is eager: the frame is computed here.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
