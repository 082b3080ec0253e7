package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.audio.{AudioMetrics, AudioStages, Fleurs}

/** Runner for the reference's Hydra `processors:` audio configs
  * (the shipped src/main/resources/config/audio/fleurs_pipeline.yaml is
  * one) — the third YAML dialect next to [[ConfigPipeline]]'s
  * `stages:`/`workflow:` forms, read by the same [[YamlVars]]: a flat
  * `_target_` processor list with `${var}` interpolation against
  * top-level keys (including nested references like
  * `output_dir: ${raw_data_dir}/result`) and `???` required
  * overrides. The network fetch and the NeMo ASR model are the usual
  * injected seams; every other processor dispatches to the ported
  * audio stages.
  */
object AudioConfigPipeline {

  /** Runs every processor in order and returns the final frame (also
    * written by a trailing JsonlWriter processor, if present).
    */
  def run(spark: SparkSession, yamlPath: String,
          overrides: Map[String, String],
          fetch: String => Array[Byte],
          asr: Array[Byte] => String): DataFrame = {
    // output_dir references raw_data_dir; overrides must fill every ???
    val cfg = YamlVars.load(yamlPath, overrides)
    import cfg.str
    val all = cfg.nodes(cfg.root, "processors")
    // processors_to_run: "all" or a "start:stop" slice (partial reruns
    // over an existing manifest); anything else must not run silently
    val toRun = str(cfg.root, "processors_to_run", "all")
    val (processors, startIdx) = toRun match {
      case "all" => (all, 0)
      case s if s.matches("-?\\d*:-?\\d*") =>
        val parts = s.split(":", -1)
        def idx(p: String, default: Int) =
          if (p.isEmpty) default else if (p.toInt < 0) all.size + p.toInt else p.toInt
        val start = idx(parts(0), 0)
        (all.slice(start, idx(parts(1), all.size)), start)
      case other =>
        throw new IllegalArgumentException(s"unsupported processors_to_run: $other")
    }
    if (processors.isEmpty)
      throw new IllegalArgumentException(
        s"processors_to_run=$toRun selects no processors")
    // A slice starting past 0 resumes from the PREVIOUS stage's manifest
    // (the reference's processors are file-chained jsonl manifests) —
    // the first selected processor must name it via input_manifest_file;
    // running it against nothing would NPE inside the stage
    val initial: DataFrame =
      if (startIdx == 0) null
      else cfg.get(processors.head, "input_manifest_file") match {
        case Some(manifest) => graft.io.JsonlIO.readInferred(spark, manifest)
        case None => throw new IllegalArgumentException(
          s"processors_to_run starts at $startIdx: the first selected processor " +
            "needs input_manifest_file (the prior stage's manifest) to resume from")
      }

    processors.foldLeft(initial) { (df, p) =>
      cfg.target(p) match {
        case "CreateInitialManifestFleursStage" =>
          Fleurs.initialManifest(spark, str(p, "lang"), str(p, "split"),
            (url: String, out: java.io.OutputStream) => out.write(fetch(url)),
            str(p, "raw_data_dir"))
        case "InferenceAsrNemoStage" =>
          AudioStages.withTranscription(df, asr)
        case "GetPairwiseWerStage" =>
          AudioMetrics.withWer(df, str(p, "text_key", "text"),
            str(p, "pred_text_key", "pred_text"), str(p, "wer_key", "wer"))
        case "GetAudioDurationStage" =>
          AudioStages.withDuration(df, durationCol = str(p, "duration_key", "duration"))
        case "PreserveByValueStage" =>
          // target_value is `int | str` in the reference
          // (audio/common.py:86): keep the YAML node's own type
          val target = p.get("target_value") match {
            case Some(n: Number) => lit(n.doubleValue())
            case _ => lit(str(p, "target_value"))
          }
          AudioStages.preserveByValue(df, str(p, "input_value_key"),
            target, str(p, "operator", "eq"))
        case "AudioToDocumentStage" =>
          // DocumentBatch keeps the text-side fields; the binary
          // payload stays behind (audio/io/convert.py wraps the same
          // dict rows minus the in-memory audio object)
          AudioStages.audioToDocument(df, df.columns.filterNot(_ == "audio").toSeq)
        case "JsonlWriter" =>
          graft.io.JsonlIO.write(df, str(p, "path"))
          df
        case other =>
          throw new IllegalArgumentException(s"unsupported processor _target_: $other")
      }
    }
  }
}
