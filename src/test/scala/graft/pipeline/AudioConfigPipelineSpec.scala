package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.audio.WavIO

/** Executes the shipped fleurs audio config
  * (src/main/resources/config/audio/fleurs_pipeline.yaml, written in the
  * reference's Hydra `processors:` format) end to end over the in-memory
  * FLEURS fixture — manifest → injected ASR → WER → duration → WER-gate
  * → document conversion → jsonl output. The config is read by
  * [[YamlVars]], the reader the stage and workflow dialects share.
  */
class AudioConfigPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val yaml = "src/main/resources/config/audio/fleurs_pipeline.yaml"

  test("the shipped fleurs pipeline yaml runs over injected seams") {
    // fixture: tar.gz of two wavs + tsv (the AudioSpec fixture)
    val bos = new java.io.ByteArrayOutputStream()
    val tos = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
      new java.util.zip.GZIPOutputStream(bos))
    for ((name, samples) <- Seq(("a.wav", 16000), ("b.wav", 8000))) {
      val bytes = WavIO.buildPcmWav(samples, 16000)
      val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(s"dev/$name")
      e.setSize(bytes.length)
      tos.putArchiveEntry(e); tos.write(bytes); tos.closeArchiveEntry()
    }
    tos.close()
    val tarGz = bos.toByteArray
    val fetch: String => Array[Byte] = url =>
      if (url.endsWith(".tsv")) "1\ta.wav\tgood transcript\n2\tb.wav\tsecond text".getBytes("UTF-8")
      else tarGz
    // ASR fixture: perfect on a.wav (1 s → 32044 bytes), garbage on b.wav
    val asr: Array[Byte] => String = b =>
      if (b.length > 20000) "good transcript" else "totally wrong words here"

    val raw = java.nio.file.Files.createTempDirectory("fleurs_cfg").toString
    val out = AudioConfigPipeline.run(spark, yaml,
      overrides = Map("raw_data_dir" -> raw), fetch, asr)

    // wer gate keeps wer <= 75: a.wav has wer 0.0; b.wav 100+ drops
    val rows = out.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("audio_filepath") == "a.wav")
    assert(r.getAs[Double]("wer") == 0.0)
    assert(r.getAs[Double]("duration") == 1.0)
    // the binary audio column is gone after AudioToDocumentStage
    assert(!out.columns.contains("audio"))
    // the trailing JsonlWriter wrote ${raw_data_dir}/result
    val result = spark.read.json(s"$raw/result")
    assert(result.count() == 1)
    assert(result.select("text").head.getString(0) == "good transcript")

    // a missing required override still fails loudly
    intercept[IllegalArgumentException] {
      AudioConfigPipeline.run(spark, yaml, Map.empty, fetch, asr)
    }
  }

  test("dialect edge cases: string targets, processor slices, circular/dotted vars") {
    val dir = java.nio.file.Files.createTempDirectory("audio_cfg").toString
    // string-typed target_value (audio/common.py declares int | str)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c1.yaml"),
      """lang_pick: hy_am
        |processors:
        |  - _target_: x.PreserveByValueStage
        |    input_value_key: "lang"
        |    target_value: "${lang_pick}"
        |    operator: "eq"
        |""".stripMargin.getBytes("UTF-8"))
    import spark.implicits._
    // seed a frame via a fake first processor is overkill — drive the
    // stage directly through the dialect by prepending a manifest df:
    // simplest check: the stage math via AudioStages with a string lit
    val df = Seq(("a", "hy_am"), ("b", "en")).toDF("id", "lang")
    assert(graft.audio.AudioStages.preserveByValue(df, "lang",
      org.apache.spark.sql.functions.lit("hy_am"), "eq").count() == 1)

    // processors_to_run slice selects a sub-range; junk fails loudly
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c2.yaml"),
      """processors_to_run: bogus
        |processors:
        |  - _target_: x.AudioToDocumentStage
        |""".stripMargin.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      AudioConfigPipeline.run(spark, s"$dir/c2.yaml", Map.empty, _ => Array.empty, _ => "")
    }

    // an empty slice fails loudly instead of returning a null frame
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c3.yaml"),
      """processors_to_run: "1:1"
        |processors:
        |  - _target_: x.AudioToDocumentStage
        |  - _target_: x.AudioToDocumentStage
        |""".stripMargin.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      AudioConfigPipeline.run(spark, s"$dir/c3.yaml", Map.empty, _ => Array.empty, _ => "")
    }

    // a slice starting past 0 resumes from the named prior manifest —
    // the reference's file-chained processors; without the name it fails
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/manifest.jsonl"),
      "{\"id\": \"a\", \"text\": \"hello\"}\n{\"id\": \"b\", \"text\": \"world\"}\n"
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c4.yaml"),
      s"""processors_to_run: "1:"
         |processors:
         |  - _target_: x.InferenceAsrNemoStage
         |  - _target_: x.AudioToDocumentStage
         |    input_manifest_file: $dir/manifest.jsonl
         |""".stripMargin.getBytes("UTF-8"))
    val resumed = AudioConfigPipeline.run(spark, s"$dir/c4.yaml", Map.empty,
      _ => Array.empty, _ => "")
    assert(resumed.count() == 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c5.yaml"),
      """processors_to_run: "1:"
        |processors:
        |  - _target_: x.InferenceAsrNemoStage
        |  - _target_: x.AudioToDocumentStage
        |""".stripMargin.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      AudioConfigPipeline.run(spark, s"$dir/c5.yaml", Map.empty, _ => Array.empty, _ => "")
    }

    // circular interpolation raises instead of spinning
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c6.yaml"),
      "a: x${b}\nb: y${a}\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](YamlVars.load(s"$dir/c6.yaml"))
    // dotted references fail loudly as unresolved, never pass through,
    // also when they arrive through a var
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c7.yaml"),
      """other: v
        |out: ${hydra.run.dir}/out
        |processors:
        |  - _target_: x.JsonlWriter
        |    path: ${hydra.run.dir}/out
        |  - _target_: x.JsonlWriter
        |    path: ${out}
        |""".stripMargin.getBytes("UTF-8"))
    val c7 = YamlVars.load(s"$dir/c7.yaml")
    c7.nodes(c7.root, "processors").foreach { p =>
      intercept[IllegalArgumentException](c7.str(p, "path"))
    }
  }
}
