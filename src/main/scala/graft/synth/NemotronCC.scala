package graft.synth

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Nemotron-CC synthetic-data stages
  * (stages/synthetic/nemotron_cc/{base,nemotron_cc,prompts}.py and
  * stages/synthetic/qa_multilingual_synthetic.py).
  *
  * The reference's five generation stages (Wikipedia rephrase, diverse
  * QA, distill, extract-knowledge, knowledge-list) are all one shape:
  * format a prompt template with the document, send (system?, prompt)
  * to an LLM client, store the response column. The LLM call itself is
  * INJECTED (`llm: (Option[system], prompt) => response`) — the same
  * zero-egress seam as CCUrls/WarcDownloader; a deployment passes an
  * OpenAI-compatible client, tests pass a deterministic function. The
  * prompt TEMPLATES are the reference's own (verbatim, loaded from a
  * resource like the stop lists — they are the API contract: a model
  * prompted differently produces different data).
  *
  * The two deterministic POST-PROCESSORS are full ports:
  * [[diverseQAPostProcess]] (nemotron_cc.py:55-120 — bullet strip,
  * prefix drop, Question:-anchored pair merging, seeded sample, doc +
  * QA concatenation) and [[knowledgeListPostProcess]]
  * (nemotron_cc.py:146-180 — leading-bullet normalization). Where the
  * reference uses the global `random` module, ours takes an explicit
  * seed (derived per-row from the doc text) so pipelines are
  * deterministic and resumable — same policy as the Pareto quality
  * filter.
  */
object NemotronCC {

  /** Reference prompt templates, `{document}` placeholder included
    * (prompts.py — loaded as data, keyed by section).
    */
  lazy val prompts: Map[String, String] = {
    val raw = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/nemotron_cc_prompts.txt"), "UTF-8").mkString
    // drop the leading provenance-comment block (before the first ###)
    raw.split("(?m)^### ").drop(1).map { block =>
      val nl = block.indexOf('\n')
      block.substring(0, nl).trim -> block.substring(nl + 1).stripLineEnd
    }.toMap
  }

  def systemPrompt: String = prompts("nemotron_cc_system")

  /** The five (template, system-prompt, output column) stage configs
    * (nemotron_cc.py:36-53,123-145).
    */
  val WikipediaRephrase: (String, Option[String], String) =
    ("wikipedia_rephrasing", Some("nemotron_cc_system"), "rephrased")
  val DiverseQA: (String, Option[String], String) =
    ("diverse_qa", None, "diverse_qa")
  val Distill: (String, Option[String], String) =
    ("distill", Some("nemotron_cc_distill_system"), "distill")
  val ExtractKnowledge: (String, Option[String], String) =
    ("extract_knowledge", None, "extract_knowledge")
  val KnowledgeList: (String, Option[String], String) =
    ("knowledge_list", None, "knowledge_list")

  /** One generation stage: prompt = template with `{document}` replaced
    * by the input column (base.py:_process_llm_prompt), response column
    * appended. `llm` receives (system prompt if the stage carries one,
    * user prompt) — the reference builds the same two-message chat.
    * The UDF is nondeterministic-marked: an external model call must
    * never be re-evaluated or reordered by the optimizer.
    */
  def generate(df: DataFrame, stage: (String, Option[String], String),
               llm: (Option[String], String) => String,
               inputCol: String = "text"): DataFrame = {
    val (tplKey, sysKey, outCol) = stage
    val tpl = prompts(tplKey)
    val sys = sysKey.map(prompts)
    val u = udf((text: String) =>
      if (text == null) null else llm(sys, tpl.replace("{document}", text)))
      .asNondeterministic()
    df.withColumn(outCol, u(col(inputCol)))
  }

  /** Batched generation: one `llmBatch` call per group of `batchSize`
    * prompts inside each partition — the shape a real endpoint wants
    * (the reference's AsyncLLMClient gathers a whole DocumentBatch of
    * concurrent requests; an OpenAI-compatible server takes batched
    * completions). mapPartitions keeps every batch on the executor
    * that owns the rows; partition count bounds endpoint concurrency
    * the way WarcDownloader's partitioning bounds download fan-out.
    * Null texts pass through as null responses (matching [[generate]]).
    */
  def generateBatched(df: DataFrame, stage: (String, Option[String], String),
                      llmBatch: (Option[String], Seq[String]) => Seq[String],
                      inputCol: String = "text", batchSize: Int = 32): DataFrame = {
    val (tplKey, sysKey, outCol) = stage
    val tpl = prompts(tplKey)
    val sys = sysKey.map(prompts)
    // withColumn semantics like generate(): an existing output column
    // is REPLACED, never duplicated into an ambiguous schema
    val base = if (df.columns.contains(outCol)) df.drop(outCol) else df
    val spark = base.sparkSession
    val inIdx = base.schema.fieldIndex(inputCol)
    val outSchema = org.apache.spark.sql.types.StructType(
      base.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.StringType, nullable = true))
    val outRows = base.queryExecution.toRdd.mapPartitions { iter =>
      // work on copies: InternalRow iterators reuse the row buffer
      val rows = iter.map(_.copy())
      rows.grouped(math.max(1, batchSize)).flatMap { batch =>
        val texts = batch.map { r =>
          if (r.isNullAt(inIdx)) null else r.getUTF8String(inIdx).toString
        }
        val prompts = texts.collect { case t if t != null => tpl.replace("{document}", t) }
        val responses = if (prompts.isEmpty) Seq.empty else llmBatch(sys, prompts)
        require(responses.length == prompts.length,
          s"llmBatch returned ${responses.length} responses for ${prompts.length} prompts")
        var ri = 0
        batch.zip(texts).map { case (row, t) =>
          val resp = if (t == null) null else { val r = responses(ri); ri += 1; r }
          val vals = new Array[Any](row.numFields + 1)
          var i = 0
          while (i < row.numFields) { vals(i) = row.get(i, outSchema.fields(i).dataType); i += 1 }
          vals(row.numFields) =
            if (resp == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(resp)
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals): org.apache.spark.sql.catalyst.InternalRow
        }
      }
    }
    org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(spark, outRows, outSchema)
  }

  /** DiverseQA post-processing (nemotron_cc.py:73-110 `_format_row`):
    * trim + drop blank lines, strip "- " bullets, drop the leading
    * prefix line, merge each "Question:" line with its continuation
    * lines, bail to "" on malformed output, sample up to a
    * token-budgeted number of pairs, and append them to the document.
    * `seed` replaces the reference's global RNG (shuffle + randint) so
    * the result is a pure function.
    */
  def diverseQAPostProcess(text: String, generated: String, seed: Long,
                           maxNumPairs: Int = 10,
                           tokenCount: Option[String => Int] = None,
                           prefix: String = "Here are the questions and answers based on the provided text:"): String = {
    val doc = if (text == null) "" else text
    if (generated == null) return ""
    // Python str.strip semantics (PyText.strip) — NBSP/Unicode-space
    // lines must drop exactly as the reference drops them
    var lines = generated.split("\n", -1)
      .map(graft.text.PyText.strip).filter(_.nonEmpty).toList
    if (lines.isEmpty) return ""
    lines = lines.map(l => if (l.startsWith("- ")) graft.text.PyText.strip(l.substring(2)) else l)
    if (lines.head == prefix) lines = lines.tail

    val pairs = scala.collection.mutable.ArrayBuffer.empty[String]
    for (line <- lines) {
      if (line.startsWith("Question:")) pairs += line
      else if (pairs.nonEmpty) pairs(pairs.length - 1) = pairs.last + "\n" + line
      else return ""
    }
    if (pairs.isEmpty) return ""

    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(pairs.toList)
    val cap = tokenCount match {
      case Some(tc) =>
        val numTokens = tc(doc)
        // random.randint(1, max(1, max_num_pairs * tokens / 150)) — inclusive
        val hi = math.max(1, maxNumPairs * numTokens / 150)
        1 + rnd.nextInt(hi)
      case None => 1 + rnd.nextInt(maxNumPairs)
    }
    val kept = shuffled.take(cap)
    s"$doc\n\n${kept.mkString("\n\n")}"
  }

  /** KnowledgeList post-processing (nemotron_cc.py:146-180
    * `_format_text`): drop a non-bullet first line, strip two-space /
    * "- " leads, keep everything else; newline-joined.
    */
  def knowledgeListPostProcess(generated: String): String = {
    if (generated == null) return ""
    val out = List.newBuilder[String]
    val lines = generated.split("\n", -1)
    var idx = 0
    while (idx < lines.length) {
      val line = lines(idx)
      if (idx == 0 && !line.startsWith("-")) ()
      else if (line.startsWith("  ") || line.startsWith("- "))
        out += graft.text.PyText.strip(line.substring(2)) // Python line[2:].strip()
      else out += line
      idx += 1
    }
    out.result().mkString("\n")
  }

  /** DataFrame stages over the post-processors. Seeds derive from the
    * doc text (content-stable across retries/partitionings).
    */
  def withDiverseQAPostProcessed(df: DataFrame, textCol: String = "text",
                                 qaCol: String = "diverse_qa",
                                 maxNumPairs: Int = 10,
                                 tokenCount: Option[String => Int] = None): DataFrame = {
    val u = udf((text: String, gen: String) =>
      diverseQAPostProcess(text, gen,
        seed = scala.util.hashing.MurmurHash3.stringHash(if (text == null) "" else text).toLong,
        maxNumPairs, tokenCount))
    df.withColumn(qaCol, u(col(textCol), col(qaCol)))
  }

  def withKnowledgeListPostProcessed(df: DataFrame, listCol: String = "knowledge_list"): DataFrame = {
    val u = udf((gen: String) => knowledgeListPostProcess(gen))
    df.withColumn(listCol, u(coalesce(col(listCol), lit(""))))
  }

  /** Multilingual QA sample generation
    * (qa_multilingual_synthetic.py:31-129): `numSamples` prompts, each
    * formatted with a language drawn from `languages` (seeded here —
    * the reference draws with `secrets.choice`), sent through the
    * injected llm; '*' stripped from responses (model bolding). Rows
    * are generated DISTRIBUTED: the sample index range parallelizes
    * and each partition calls the llm for its own rows.
    */
  def qaMultilingual(spark: org.apache.spark.sql.SparkSession, promptTemplate: String,
                     languages: Seq[String], numSamples: Int,
                     llm: (Option[String], String) => String,
                     seed: Long = 42, partitions: Int = 8): DataFrame = {
    // delegates to the stage object (graft.synth.QAMultilingual) with
    // this entry point's seeded language draw preserved
    val langs = languages.toIndexedSeq
    QAMultilingual.withResponses(
        spark.range(numSamples.toLong).repartition(math.max(1, partitions)).toDF(),
        promptTemplate, languages, p => llm(None, p),
        chooseLanguage = i => langs(new scala.util.Random(seed ^ i).nextInt(langs.length)))
      .select(col("text"))
  }
}
