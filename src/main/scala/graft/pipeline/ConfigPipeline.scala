package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.filters.{Cascade, CodeFilters, DocFilter, HeuristicFilters => HF}
import graft.langid.{FastTextBin, FastTextFilters}

/** Config-driven pipeline runner — the reference's PRIMARY entry point
  * (Pipeline.run over a YAML/Hydra stage list, pipeline/pipeline.py:64-197)
  * over configs in the reference's format: `_target_` class paths name
  * the stages, `${var}` interpolation resolves against top-level keys,
  * `???` marks required overrides. Seven text configs written in that
  * format ship under src/main/resources/config/text/. Every config is
  * read by [[YamlVars]], which owns the null and interpolation rule.
  *
  * Planning difference (SURVEY §3.1): the reference decomposes stages
  * into Ray actor pools with an object-store hop per stage; here every
  * consecutive run of ScoreFilter stages FUSES into one Cascade pass
  * (single UDF evaluation, early exit, first-reject attribution) and
  * Catalyst fuses the rest — stage hops cost nothing.
  */
object ConfigPipeline {

  sealed trait Stage
  final case class Read(format: String, path: String) extends Stage
  final case class Filters(filters: Vector[DocFilter]) extends Stage
  final case class QualityFilter(modelPath: String, label: String,
                                 alpha: Double, seed: Long) extends Stage
  final case class Write(format: String, path: String) extends Stage

  final case class Parsed(textField: String, stages: Vector[Stage])

  /** Parse a reference pipeline YAML. `overrides` supplies values for
    * `???` placeholders and may shadow any top-level key
    * (e.g. "input_path" -> "/data/in").
    */
  def parse(yamlPath: String, overrides: Map[String, String] = Map.empty): Parsed = {
    val cfg = YamlVars.load(yamlPath, overrides)
    import cfg.{bool, dbl, int, str}

    val textField = str(cfg.root, "text_field", "text")

    /** reference filter class -> DocFilter, parameter names verbatim. */
    def docFilter(p: YamlVars.Node): Either[Stage, DocFilter] =
      cfg.target(p) match {
        case "NonAlphaNumericFilter" => Right(HF.NonAlphaNumeric(dbl(p, "max_non_alpha_numeric_to_text_ratio", 0.25)))
        case "SymbolsToWordsFilter" => Right(HF.SymbolsToWords(dbl(p, "max_symbol_to_word_ratio", 0.1)))
        case "NumbersFilter" => Right(HF.Numbers(dbl(p, "max_number_to_text_ratio", 0.15)))
        case "UrlsFilter" => Right(HF.Urls(dbl(p, "max_url_to_text_ratio", 0.2)))
        case "WhiteSpaceFilter" => Right(HF.WhiteSpace(dbl(p, "max_white_space_ratio", 0.25)))
        case "ParenthesesFilter" => Right(HF.Parentheses(dbl(p, "max_parentheses_ratio", 0.1)))
        case "BoilerPlateStringFilter" => Right(HF.BoilerPlateString(dbl(p, "max_boilerplate_string_ratio", 0.4)))
        case "RepeatedLinesFilter" => Right(HF.RepeatedLines(dbl(p, "max_repeated_line_fraction", 0.7)))
        case "RepeatedParagraphsFilter" => Right(HF.RepeatedParagraphs(dbl(p, "max_repeated_paragraphs_ratio", 0.7)))
        case "RepeatedLinesByCharFilter" => Right(HF.RepeatedLinesByChar(dbl(p, "max_repeated_lines_char_ratio", 0.8)))
        case "RepeatedParagraphsByCharFilter" => Right(HF.RepeatedParagraphsByChar(dbl(p, "max_repeated_paragraphs_char_ratio", 0.8)))
        case "WordCountFilter" => Right(HF.WordCount(int(p, "min_words", 50), int(p, "max_words", 100000)))
        case "PunctuationFilter" => Right(HF.Punctuation(dbl(p, "max_num_sentences_without_endmark_ratio", 0.85)))
        case "WordsWithoutAlphabetsFilter" => Right(HF.WordsWithoutAlphabets(dbl(p, "min_words_with_alphabets", 0.8)))
        case "CommonEnglishWordsFilter" => Right(HF.CommonEnglishWords(int(p, "min_num_common_words", 2), bool(p, "stop_at_false", true)))
        case "MeanWordLengthFilter" => Right(HF.MeanWordLength(dbl(p, "min_mean_word_length", 3), dbl(p, "max_mean_word_length", 10)))
        case "LongWordFilter" => Right(HF.LongWord(int(p, "max_word_length", 1000)))
        case "EllipsisFilter" => Right(HF.Ellipsis(dbl(p, "max_num_lines_ending_with_ellipsis_ratio", 0.3)))
        case "RepeatingTopNGramsFilter" => Right(HF.RepeatingTopNGrams(int(p, "n", 2), dbl(p, "max_repeating_ngram_ratio", 0.2)))
        case "RepeatingDuplicateNGramsFilter" => Right(HF.RepeatingDuplicateNGrams(int(p, "n", 5), dbl(p, "max_repeating_duplicate_ngram_ratio", 0.15)))
        case "BulletsFilter" => Right(HF.Bullets(dbl(p, "max_bullet_lines_ratio", 0.9)))
        case "PythonCommentToCodeFilter" => Right(CodeFilters.PythonCommentToCode(
          dbl(p, "min_comment_to_code_ratio", 0.01), dbl(p, "max_comment_to_code_ratio", 0.85)))
        case "NumberOfLinesOfCodeFilter" => Right(CodeFilters.NumberOfLines(int(p, "min_lines", 10), int(p, "max_lines", 20000)))
        case "XMLHeaderFilter" => Right(CodeFilters.XmlHeader(int(p, "char_prefix_search_length", 100)))
        case "AlphaFilter" => Right(CodeFilters.Alpha(dbl(p, "min_alpha_ratio", 0.25)))
        case "TokenizerFertilityFilter" =>
          // path_to_tokenizer names a SentencePiece model the sandbox
          // cannot load; the BPE-ish tokenizer plugs the same slot
          Right(CodeFilters.TokenizerFertility(minCharToTokenRatio = dbl(p, "min_char_to_token_ratio", 2.5)))
        case "FastTextLangId" =>
          Right(FastTextFilters.FastTextLangIdBinFilter(str(p, "model_path"), dbl(p, "min_langid_score", 0.3)))
        case "FastTextQualityFilter" =>
          Left(QualityFilter(str(p, "model_path"), str(p, "label", "__label__hq"),
            dbl(p, "alpha", 3.0), int(p, "seed", 42).toLong))
        case other => throw new IllegalArgumentException(s"unsupported filter _target_: $other")
      }

    val stages = cfg.nodes(cfg.root, "stages").map { m =>
      cfg.target(m) match {
        case "JsonlReader" | "JsonlReaderStage" => Read("jsonl", str(m, "file_paths"))
        case "ParquetReader" | "ParquetReaderStage" => Read("parquet", str(m, "file_paths"))
        case "JsonlWriter" => Write("jsonl", str(m, "path"))
        case "ParquetWriter" => Write("parquet", str(m, "path"))
        case "ScoreFilter" =>
          val fo = cfg.node(m, "filter_obj")
            .getOrElse(throw new IllegalArgumentException("ScoreFilter needs a filter_obj"))
          docFilter(fo) match {
            case Right(f) => Filters(Vector(f))
            case Left(s) => s
          }
        case other => throw new IllegalArgumentException(s"unsupported stage _target_: $other")
      }
    }

    // fuse consecutive ScoreFilter stages into one cascade pass
    val fused = stages.foldLeft(Vector.empty[Stage]) {
      case (acc :+ Filters(a), Filters(b)) => acc :+ Filters(a ++ b)
      case (acc, s) => acc :+ s
    }
    Parsed(textField, fused)
  }

  /** Run a WORKFLOW config (the reference's exact/fuzzy/semantic dedup
    * yaml files use a `workflow:` key with one workflow object instead
    * of a stage list — entry point B, SURVEY §3.2). Reads the input per
    * `input_filetype`, runs the matching Spark workflow with the
    * config's own parameters, writes to `output_path` and returns the
    * written frame (removal ids when perform_removal is false, the
    * deduplicated corpus when true — the reference's contract).
    */
  def runWorkflow(spark: SparkSession, yamlPath: String,
                  overrides: Map[String, String] = Map.empty): DataFrame = {
    val cfg = YamlVars.load(yamlPath, overrides)
    // overrides may shadow workflow params directly (e.g. n_clusters)
    val wf = cfg.nodes(cfg.root, "workflow").head ++ overrides
    import cfg.{bool, dbl, int, str}

    val textField = str(wf, "text_field", "text")
    val input = str(cfg.root, "input_filetype", "jsonl") match {
      case "parquet" => spark.read.parquet(str(wf, "input_path"))
      case _ => spark.read.json(str(wf, "input_path"))
    }
    // assign_id: monotone int64 row ids — the Spark analogue of the
    // reference's IdGenerator actor (dedup workflows need integral ids).
    // syntheticIds tracks that the user has no way to join bare ids back
    // (the reference persists IdGenerator state for that); ids-only
    // output then switches to FULL duplicate rows so it stays actionable
    val (withId, idCol, syntheticIds) = cfg.get(wf, "id_field") match {
      case Some(f) if input.columns.contains(f) => (input, f, false)
      case _ => (input.withColumn("id", monotonically_increasing_id()), "id", true)
    }
    // the reference's contract: the deduplicated corpus when
    // perform_removal is true, the removal ids otherwise
    def output(base: DataFrame, removal: DataFrame): DataFrame =
      if (bool(wf, "perform_removal", d = false)) base.join(removal, Seq(idCol), "left_anti")
      else if (syntheticIds) base.join(removal, Seq(idCol), "left_semi").drop(idCol)
      else removal

    // BEYOND-THE-REFERENCE `index_path` extension: dedupe THIS batch
    // (one SNAPSHOT) against every OTHER committed snapshot under the
    // index root (graft.dedup.IncrementalDedup snapshot layout) at cost
    // proportional to the batch. The snapshot id comes from
    // `snapshot_id` or defaults to a hash of the input path, so a rerun
    // of the same batch targets the same subtable: removals are
    // recomputed identically no matter where a previous attempt died
    // (its own subtable is always excluded from the index read), and
    // the `update_index: true` write is an idempotent overwrite-commit
    // (inside `removalIds`, so its order against the output write does
    // not matter). The bootstrap snapshot is just the first one — no
    // special casing. update_index defaults FALSE (mutating shared
    // storage is opt-in).
    def incremental(removalIds: (String, String, Boolean) => DataFrame): Option[DataFrame] =
      cfg.get(wf, "index_path").map { ip =>
        // the fuzzy yaml's `???` cache_path with no override given is not set
        require(!cfg.isSet(wf, "cache_path"),
          "index_path and cache_path cannot be combined: the incremental snapshot " +
            "run recomputes the batch sketch per attempt (it is cheap at batch " +
            "scale); drop one of the two options")
        val snapshotId = cfg.get(wf, "snapshot_id").getOrElse {
          val md = java.security.MessageDigest.getInstance("MD5")
          md.digest(str(wf, "input_path").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
        }
        output(withId, removalIds(ip, snapshotId, bool(wf, "update_index", d = false)))
      }

    val result: DataFrame = cfg.target(wf) match {
      case "ExactDeduplicationWorkflow" =>
        incremental((ip, snap, update) => graft.dedup.IncrementalDedup.exactSnapshotRemovalIds(
            withId, ip, snap, idCol, textField, updateIndex = update)).getOrElse(
          output(withId, graft.dedup.ExactDedup.removalIds(withId, idCol = idCol, textCol = textField)))
      case "FuzzyDeduplicationWorkflow" =>
        val p = graft.dedup.MinHashLSH.Params(
          seed = int(wf, "seed", 42).toLong,
          charNgrams = int(wf, "char_ngrams", 24),
          numBands = int(wf, "num_bands", 20),
          rowsPerBand = int(wf, "minhashes_per_band", 13))
        incremental((ip, snap, update) => graft.dedup.IncrementalDedup.fuzzySnapshotRemovalIds(
            withId, ip, snap, p, idCol, textField, updateIndex = update)).getOrElse(
          cfg.get(wf, "cache_path") match {
            case Some(cache) =>
              // reference contract: cache_path persists each stage
              // (minhashes/edges/components) so a crashed run resumes from
              // the last completed stage. Synthetic ids are persisted too —
              // they are not stable across reruns otherwise.
              val base = if (syntheticIds) graft.dedup.FuzzyCheckpoint.stableInput(withId, cache)
                         else withId
              output(base, graft.dedup.FuzzyCheckpoint.removalIds(base, p, cache, idCol, textField))
            case None =>
              output(withId, graft.dedup.MinHashLSH.removalIds(withId, p, idCol = idCol, textCol = textField))
          })
      case "TextSemanticDeduplicationWorkflow" =>
        // model_identifier: when it names a committed GEMB word-vector
        // artifact (file or classpath), the ARTIFACT embedder runs
        // with the config's embedding_pooling; a GPU
        // sentence-transformer identifier falls back to the
        // deterministic hash embedder standing in the same slot
        val modelId = str(wf, "model_identifier", "")
        val pooling = str(wf, "embedding_pooling", "mean_pooling")
        val emb =
          if (graft.sim.WordVecEmbedder.isGembArtifact(modelId))
            graft.sim.WordVecEmbedder.withEmbedding(withId, modelId,
              textCol = textField, outCol = "embedding", pooling = pooling)
          else graft.sim.HashEmbedder.withEmbedding(withId, textField)
        // ranking_strategy ascending=True over cosine_dist_to_cent is
        // which_to_keep="easy"; the default "hard" is descending
        val ascending = cfg.node(wf, "ranking_strategy").exists(bool(_, "ascending", d = false))
        val keep = if (ascending) "easy" else "hard"
        // with cache_path, output joins key off the PERSISTED embeddings
        // (synthetic ids are not stable across a crashed run + rerun)
        val (base, removal) = cfg.get(wf, "cache_path") match {
          case Some(cache) =>
            // reference contract: cache_path persists embeddings and the
            // kmeans tier so a crashed run resumes from the last
            // completed stage (embedding inference is the expensive one)
            val embCached = graft.dedup.SemanticCheckpoint.embeddedInput(emb, cache)
            (embCached.drop("embedding"),
              graft.dedup.SemanticCheckpoint.removalIdsRanked(
                embCached, k = int(wf, "n_clusters", 100), eps = dbl(wf, "eps", 0.01), cache,
                whichToKeep = keep, idCol = idCol, vecCol = "embedding"))
          case None =>
            (withId,
              graft.dedup.SemanticDedup.removalIdsRanked(
                emb, k = int(wf, "n_clusters", 100), eps = dbl(wf, "eps", 0.01),
                whichToKeep = keep, idCol = idCol, vecCol = "embedding"))
        }
        output(base, removal)
      case other => throw new IllegalArgumentException(s"unsupported workflow _target_: $other")
    }
    val outPath = str(wf, "output_path")
    str(cfg.root, "output_filetype", "jsonl") match {
      case "parquet" => result.write.mode("overwrite").parquet(outPath)
      case _ => result.write.mode("overwrite").json(outPath)
    }
    result
  }

  /** Execute a parsed pipeline. Returns the final DataFrame (post-write
    * stages return the written frame). When the config has no reader
    * (or `input` is given), `input` seeds the chain.
    */
  def run(spark: SparkSession, parsed: Parsed, input: Option[DataFrame] = None): DataFrame = {
    var df: DataFrame = input.orNull
    parsed.stages.foreach {
      case Read(format, path) =>
        if (df == null) df = format match {
          case "jsonl" => spark.read.json(path)
          case "parquet" => spark.read.parquet(path)
        }
      case Filters(fs) =>
        require(df != null, "filter stage before any reader/input")
        df = Cascade.score(df, fs.toArray, textCol = parsed.textField)
          .filter(col("keep")).drop("keep", "first_reject")
      case QualityFilter(modelPath, label, alpha, seed) =>
        require(df != null, "filter stage before any reader/input")
        val model = FastTextBin.read(modelPath)
        df = FastTextFilters.filterByQualityBin(df, model, label, alpha, seed, parsed.textField)
      case Write(format, path) =>
        require(df != null, "writer stage before any reader/input")
        format match {
          case "jsonl" => df.write.mode("overwrite").json(path)
          case "parquet" => df.write.mode("overwrite").parquet(path)
        }
    }
    df
  }
}
