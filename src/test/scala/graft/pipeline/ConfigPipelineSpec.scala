package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Drives ConfigPipeline with the seven text configs shipped under
  * src/main/resources/config/text/, written in the reference's Hydra
  * format (`_target_`, `ScoreFilter`/`filter_obj`, `workflow:`,
  * `${var}`, `???`) with every filter parameter spelled out, so a parse
  * checks the YAML -> filter mapping. All three dialects read through
  * the one [[YamlVars]] rule: a top-level null is an unset var, a
  * whole-value `${v}` of an unset var reads as absent, and an embedded
  * one or a `???` reached through any var chain fails.
  */
class ConfigPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfgDir = "src/main/resources/config/text"

  test("english heuristic pipeline yaml parses to the exact 28-filter cascade") {
    val parsed = ConfigPipeline.parse(s"$cfgDir/heuristic_filter_english_pipeline.yaml",
      Map("input_path" -> "/tmp/unused", "output_path" -> "/tmp/unused_out"))
    val filterStage = parsed.stages.collect { case f: ConfigPipeline.Filters => f }
    assert(filterStage.size == 1, "consecutive ScoreFilters must fuse into one cascade")
    val fs = filterStage.head.filters
    val expected = graft.filters.HeuristicFilters.englishCascade
    assert(fs.size == expected.length, s"${fs.size} filters parsed")
    fs.zip(expected).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    assert(parsed.stages.head.isInstanceOf[ConfigPipeline.Read])
    assert(parsed.stages.last.isInstanceOf[ConfigPipeline.Write])
    // the shipped configs also resolve as classpath resources (from the jar)
    assert(ConfigPipeline.parse("config/text/heuristic_filter_english_pipeline.yaml",
      Map("input_path" -> "/tmp/unused", "output_path" -> "/tmp/unused_out")) == parsed)
  }

  test("non-english pipeline yaml parses to the exact 25-filter cascade") {
    val parsed = ConfigPipeline.parse(s"$cfgDir/heuristic_filter_non_english_pipeline.yaml",
      Map("input_path" -> "x", "output_path" -> "y"))
    val fs = parsed.stages.collect { case f: ConfigPipeline.Filters => f }.head.filters
    val expected = graft.filters.HeuristicFilters.nonEnglishCascade
    assert(fs.size == expected.length)
    fs.zip(expected).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("code filter pipeline yaml parses (incl. fertility tokenizer slot)") {
    val parsed = ConfigPipeline.parse(s"$cfgDir/code_filter_pipeline.yaml",
      Map("input_path" -> "x", "output_path" -> "y", "path_to_tokenizer" -> "unused.model"))
    val fs = parsed.stages.collect { case f: ConfigPipeline.Filters => f }.head.filters
    assert(fs.exists(_.name == "tokenizer_fertility"))
    assert(fs.exists(_.name == "num_lines"))
    import graft.filters.CodeFilters._
    assert(fs.init == Vector(PythonCommentToCode(0.001, 0.85), NumberOfLines(10, 20000),
      XmlHeader(100), Alpha(0.25)))
    assert(fs.last.asInstanceOf[TokenizerFertility].minCharToTokenRatio == 2.0)
  }

  test("missing required override (???) fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      ConfigPipeline.parse(s"$cfgDir/heuristic_filter_english_pipeline.yaml")
    }
    assert(ex.getMessage.contains("???") || ex.getMessage.contains("required override"),
      ex.getMessage)
  }

  test("??? EMBEDDED via ${var} interpolation fails loudly too (not a silent '???' path)") {
    val ex = intercept[IllegalArgumentException] {
      ConfigPipeline.parse(s"$cfgDir/heuristic_filter_english_pipeline.yaml",
        Map("input_path" -> "/data/???/shard", "output_path" -> "y"))
    }
    assert(ex.getMessage.contains("???"), ex.getMessage)

    // the stage dialect follows the same var rule as the audio one: a
    // var-of-var chain resolves, a whole-value ${v} of a null v reads as
    // unset (text_field falls back to "text"), and a ??? reached through
    // a chain or a null embedded in a longer string fails
    def yaml(writerPath: String): String = {
      val p = java.nio.file.Files.createTempFile("cfgvars", ".yaml")
      java.nio.file.Files.writeString(p,
        s"""base: /data
           |in_dir: $${base}/in
           |input_path: $${in_dir}/shard
           |tf: null
           |text_field: $${tf}
           |req: ???
           |via: $${req}
           |stages:
           |  - _target_: x.JsonlReader
           |    file_paths: $${input_path}
           |  - _target_: x.JsonlWriter
           |    path: $writerPath
           |""".stripMargin)
      p.toString
    }
    val ok = ConfigPipeline.parse(yaml("/out"))
    assert(ok.textField == "text")
    assert(ok.stages == Vector(ConfigPipeline.Read("jsonl", "/data/in/shard"),
      ConfigPipeline.Write("jsonl", "/out")))
    val viaChain = intercept[IllegalArgumentException](ConfigPipeline.parse(yaml("${via}")))
    assert(viaChain.getMessage.contains("???"), viaChain.getMessage)
    val embedded = intercept[IllegalArgumentException](ConfigPipeline.parse(yaml("${tf}/out")))
    assert(embedded.getMessage.contains("is null"), embedded.getMessage)
  }

  test("end-to-end run over jsonl equals the hand-built cascade") {
    val tmp = java.nio.file.Files.createTempDirectory("cfgpipe").toString
    // jsonl input with a keepable doc (the cc fixture carries both classes)
    spark.read.parquet("src/test/resources/cc_pages_tiny").limit(400)
      .select("url", "text").write.json(s"$tmp/in")
    val parsed = ConfigPipeline.parse(s"$cfgDir/heuristic_filter_english_pipeline.yaml",
      Map("input_path" -> s"$tmp/in", "output_path" -> s"$tmp/out"))
    val out = ConfigPipeline.run(spark, parsed)
    val written = spark.read.json(s"$tmp/out")
    val expected = graft.filters.Cascade.score(
        spark.read.json(s"$tmp/in"),
        graft.filters.HeuristicFilters.englishCascade)
      .filter(col("keep"))
    assert(written.count() == expected.count())
    assert(out.count() == expected.count())
    assert(written.select("url").as[String].collect().toSet ==
      expected.select("url").as[String].collect().toSet)
  }

  test("exact + fuzzy dedup workflow yamls run end to end") {
    val tmp = java.nio.file.Files.createTempDirectory("cfgwf").toString
    // 3 distinct texts, one exact duplicate pair
    Seq("the quick brown fox jumps over the lazy dog and keeps going",
        "the quick brown fox jumps over the lazy dog and keeps going",
        "an entirely different document about something else entirely here",
        "a third unique document with its own words and nothing shared")
      .zipWithIndex.map { case (t, i) => (s"u$i", t) }
      .toDF("url", "text").write.json(s"$tmp/in")
    val ids = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/exact_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/in", "output_path" -> s"$tmp/out_exact"))
    assert(ids.count() == 1, "one removal id for the duplicate pair")
    val kept = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/fuzzy_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/in", "output_path" -> s"$tmp/out_fuzzy",
        "cache_path" -> s"$tmp/cache"))
    // perform_removal: False in the config -> removal ids (the exact
    // dup pair is also a fuzzy dup)
    assert(kept.count() == 1, s"got ${kept.count()}")
    assert(spark.read.json(s"$tmp/out_fuzzy").count() == 1)
  }

  test("workflow index_path: bootstrap snapshot, cross-snapshot dedup, idempotent rerun") {
    val tmp = java.nio.file.Files.createTempDirectory("cfginc").toString
    val baseA = (1 to 40).map(i => s"token$i word$i").mkString(" ")
    val uniqC = (1 to 40).map(i => s"other$i thing$i").mkString(" ")
    val uniqD = (1 to 40).map(i => s"unrelated$i stuff$i").mkString(" ")
    // no cache_path override: the fuzzy yaml's `???` cache_path stays
    // unset, which is what an index_path run needs
    def idxBands = graft.dedup.IncrementalDedup
      .committedSnapshotBands(spark, s"$tmp/idx", exclude = "_none_")
    // snapshot 1 (empty index root): bootstrap == plain self-dedup, 0 removals
    Seq(("u0", baseA), ("u1", uniqC)).toDF("url", "text").write.json(s"$tmp/in1")
    val r1 = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/fuzzy_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/in1", "output_path" -> s"$tmp/out1",
        "index_path" -> s"$tmp/idx", "update_index" -> "true"))
    assert(r1.count() == 0)
    assert(idxBands.count() == 40, "20 bands x 2 kept docs")
    // snapshot 2: one near-dup of a snapshot-1 doc + one new doc; the
    // dup is removed AGAINST THE INDEX (perform_removal False + synthetic
    // ids -> output is the full duplicate rows)
    Seq(("u2", baseA + " extra"), ("u3", uniqD)).toDF("url", "text").write.json(s"$tmp/in2")
    def runSnap2() = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/fuzzy_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/in2", "output_path" -> s"$tmp/out2",
        "index_path" -> s"$tmp/idx", "update_index" -> "true"))
    assert(runSnap2().select("url").as[String].collect().toSet == Set("u2"))
    assert(idxBands.count() == 60, "20 bands x 3 kept docs")
    // RERUN of snapshot 2 after its index write already landed: its own
    // subtable is excluded from the index read, so removals are
    // IDENTICAL (a flat append-style index would classify the whole
    // batch as duplicates of itself) and the overwrite-commit leaves
    // the index unchanged
    assert(runSnap2().select("url").as[String].collect().toSet == Set("u2"))
    assert(idxBands.count() == 60, "rerun overwrote its own subtable, no growth")
    // exact workflow, same contract incl. rerun idempotency
    Seq(("v0", "page one body"), ("v1", "page two body"))
      .toDF("url", "text").write.json(s"$tmp/ein1")
    ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/exact_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/ein1", "output_path" -> s"$tmp/eout1",
        "index_path" -> s"$tmp/eidx", "update_index" -> "true"))
    Seq(("v2", "page one body"), ("v3", "page three body"))
      .toDF("url", "text").write.json(s"$tmp/ein2")
    def runESnap2() = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/exact_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/ein2", "output_path" -> s"$tmp/eout2",
        "index_path" -> s"$tmp/eidx", "update_index" -> "true"))
    assert(runESnap2().select("url").as[String].collect().toSet == Set("v2"))
    assert(runESnap2().select("url").as[String].collect().toSet == Set("v2"))
    // combining index_path with cache_path fails loudly
    val ex = intercept[IllegalArgumentException] {
      ConfigPipeline.runWorkflow(spark,
        s"$cfgDir/fuzzy_deduplication_pipeline.yaml",
        Map("input_path" -> s"$tmp/in2", "output_path" -> s"$tmp/out3",
          "index_path" -> s"$tmp/idx", "cache_path" -> s"$tmp/cache"))
    }
    assert(ex.getMessage.contains("cannot be combined"))
  }

  test("semantic dedup workflow yaml runs with the hash-embedder slot") {
    val tmp = java.nio.file.Files.createTempDirectory("cfgsem").toString
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and keeps going today",
      "the quick brown fox jumps over the lazy dog and keeps going tonight",
      "an entirely different document about boats and rivers and mountains")
    texts.zipWithIndex.map { case (t, i) => (s"id$i", t) }
      .toDF("id", "text").write.json(s"$tmp/in")
    val out = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/semantic_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/in", "output_path" -> s"$tmp/out",
        "cache_path" -> s"$tmp/cache", "n_clusters" -> "2", "eps" -> "0.12"))
    // perform_removal: True in the config -> deduplicated corpus; the
    // two near-identical docs collapse to one
    assert(out.count() == 2, s"got ${out.count()}")
  }

  test("semantic dedup yaml routes a GEMB model_identifier to the artifact embedder") {
    val tmp = java.nio.file.Files.createTempDirectory("cfgsemart").toString
    // same-topic docs are exact duplicates in the committed artifact's
    // embedding space; the third doc shares no topic (cosine 0)
    val texts = Seq(
      "ztopic1 filler words here ztopic9",
      "ztopic1 other body text ztopic9",
      "ztopic2 unrelated content ztopic10")
    texts.zipWithIndex.map { case (t, i) => (s"id$i", t) }
      .toDF("id", "text").write.json(s"$tmp/in")
    val out = ConfigPipeline.runWorkflow(spark,
      s"$cfgDir/semantic_deduplication_pipeline.yaml",
      Map("input_path" -> s"$tmp/in", "output_path" -> s"$tmp/out",
        "cache_path" -> s"$tmp/cache", "n_clusters" -> "2", "eps" -> "0.1",
        "model_identifier" -> "src/main/resources/models/embed_tiny.bin"))
    assert(out.count() == 2, s"got ${out.count()}")
    // a non-artifact identifier (the YAML's own sentence-transformer
    // id) is NOT a GEMB artifact and keeps the fallback slot
    assert(!graft.sim.WordVecEmbedder.isGembArtifact("sentence-transformers/all-MiniLM-L6-v2"))
    assert(graft.sim.WordVecEmbedder.isGembArtifact("src/main/resources/models/embed_tiny.bin"))
  }

  test("fasttext pipeline yaml runs off real .bin artifacts") {
    import graft.langid.FastTextBin
    import FastTextBin.{Args, Entry}
    val tmp = java.nio.file.Files.createTempDirectory("cfgft").toString
    // langid model: 'hello' -> __label__en strongly; an all-OOV doc gets
    // a uniform softmax over FOUR labels (0.25 < the 0.3 cutoff)
    val args = Args(2, 5, 5, 1, 5, 1, 3, 3, bucket = 0, minn = 0, maxn = 0, 100, 1e-4)
    FastTextBin.write(s"$tmp/lid.bin", args,
      Array(Entry("hello", 5, 0), Entry("</s>", 2, 0),
        Entry("__label__en", 3, 1), Entry("__label__fr", 3, 1),
        Entry("__label__de", 3, 1), Entry("__label__es", 3, 1)),
      Array(Array(8f, 0f), Array(0f, 0f)),
      Array(Array(1f, 0f), Array(0f, 1f), Array(-1f, 0f), Array(0f, -1f)))
    // quality model: everything scores __label__hq with high prob
    FastTextBin.write(s"$tmp/q.bin", args,
      Array(Entry("</s>", 2, 0), Entry("__label__hq", 3, 1), Entry("__label__lq", 3, 1)),
      Array(Array(8f, 8f)),
      Array(Array(1f, 1f), Array(-1f, -1f)))
    Seq(("u1", "hello hello world"), ("u2", "bonjour tout le monde ici"))
      .toDF("url", "text").write.json(s"$tmp/in")
    val parsed = ConfigPipeline.parse(s"$cfgDir/fasttext_filter_pipeline.yaml",
      Map("input_path" -> s"$tmp/in", "output_path" -> s"$tmp/out",
        "fasttext_langid_model_path" -> s"$tmp/lid.bin",
        "fasttext_quality_model_path" -> s"$tmp/q.bin"))
    assert(parsed.stages.contains(ConfigPipeline.QualityFilter(s"$tmp/q.bin", "__label__hq", 3.0, 42L)))
    ConfigPipeline.run(spark, parsed)
    val out = spark.read.json(s"$tmp/out").select("url").as[String].collect().toSet
    assert(out.contains("u1"), s"high-confidence EN doc should survive, got $out")
    assert(!out.contains("u2"), "low-langid-score doc should drop")
  }
}
