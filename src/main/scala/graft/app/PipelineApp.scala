package graft.app

/** spark-submit entry point for config-driven runs — the reference's
  * `python -m ... --config-path` CLI shape:
  *
  *   spark-submit --class graft.app.PipelineApp graft.jar \
  *     src/main/resources/config/text/heuristic_filter_english_pipeline.yaml \
  *     input_path=/data/in output_path=/data/out
  *
  * Stage-list configs run through [[graft.pipeline.ConfigPipeline.run]];
  * configs whose root has a `workflow` key (exact/fuzzy/semantic dedup)
  * dispatch to `runWorkflow`. Remaining args are `key=value`
  * overrides for `???` placeholders and top-level config keys.
  */
object PipelineApp {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PipelineApp <config.yaml> [key=value ...]")
    val yamlPath = args(0)
    val overrides = args.drop(1).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"override '$kv' is not key=value")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

    val spark = graft.Session("graft-pipeline")

    val isWorkflow = graft.pipeline.YamlVars.load(yamlPath, overrides).root.contains("workflow")
    val out =
      if (isWorkflow) graft.pipeline.ConfigPipeline.runWorkflow(spark, yamlPath, overrides)
      else graft.pipeline.ConfigPipeline.run(spark,
        graft.pipeline.ConfigPipeline.parse(yamlPath, overrides))
    println(s"[pipeline] ${out.count()} rows out")
    spark.stop()
  }
}
