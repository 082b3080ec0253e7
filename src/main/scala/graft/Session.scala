package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built, so the local-session policy
  * lives here and nowhere else. Every session gets its app name, session
  * time zone UTC and log level WARN. A local session additionally gets
  *
  *   - master `local[cores]`
  *   - shuffle partitions = cores
  *   - UI off
  *
  * When `spark.master` is already set (spark-submit, or
  * `-Dspark.master=...`) the session is not local: master, shuffle
  * partitions and UI come from that configuration, so a cluster run
  * keeps its `--conf spark.sql.shuffle.partitions` and its Spark UI.
  *
  * Adaptive execution and its skew-join split are Spark 4 defaults and
  * are not restated.
  */
object Session {

  /** Cores for a local session: `SPARK_GRAFT_CPUS` when set, otherwise
    * every core the JVM sees. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** What [[apply]] sets on the builder besides the app name;
    * `masterSet` is whether `spark.master` is already configured. */
  private[graft] def settings(cores: Int, masterSet: Boolean): Seq[(String, String)] = {
    val local =
      if (masterSet) Nil
      else Seq(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.ui.enabled" -> "false")
    ("spark.sql.session.timeZone" -> "UTC") +: local
  }

  def apply(appName: String, cores: Int = Session.cores): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
    settings(cores, sys.props.contains("spark.master")).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
