package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.TextStats
import graft.dedup.{ExactDedup, IncrementalDedup, MinHashLSH, SimHash}
import graft.filters.{DocFilter, HeuristicFilters => HF}
import graft.pipeline.CurationPipeline
import graft.scrub.{Modifiers, PiiScrub}
import graft.sim.Knn

/** Driver contract: one entry per implemented operator (SURVEY.md §2),
  * each with an equivalent DuckDB oracle where SQL can express it.
  * Non-SQL-expressible operators (cascade short-circuit semantics,
  * MinHash/SimHash sketches, LM perplexity, LSH ANN) get rows-only
  * checks here and exact fixture parity in the ScalaTest suite.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Spread a single-file test table across the cores. The sf parquet
    * ships as ONE file with ONE row group, so every scan is one
    * partition regardless of maxPartitionBytes and a heavy per-row UDF
    * stage (minhash signatures ~0.5 ms/doc) serializes onto a single
    * core — production corpora arrive in thousands of splits, which is
    * the input shape the operators are designed for. Harness-side
    * repartition, not an operator concern (an unconditional repartition
    * inside removalIds would re-shuffle 100 TB of text).
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Max rows any catalog query may collect to the driver for model
    * training — keeps the driver memory O(1) in corpus size. At sf0.01
    * every sampled train set is under this cap, so results are identical
    * to unbounded training there.
    */
  private val TrainCap = 4096

  // ---------- shared input-construction snippets ----------
  // Identical literal-replace injections evaluated by BOTH engines
  // (Spark expr uses char(); DuckDB oracle uses chr()) so per-filter
  // logic sees multi-line / symbol / url / bullet structure.

  private def linesIn(ch: String => String) =
    s"replace(text, ' the ', ${ch("10")})"
  private def parasIn(ch: String => String) =
    s"replace(text, ' data ', ${ch("10")} || ${ch("10")})"
  private def punctIn(ch: String => String) =
    s"replace(replace(text, ' the ', '.' || ${ch("10")}), ' data ', ${ch("10")})"
  private def ellipsisIn(ch: String => String) =
    s"replace(text, ' merge', '...' || ${ch("10")})"
  private def bulletsIn(ch: String => String) =
    s"replace(replace(text, ' value ', ${ch("10")}), 'key', '• key')"
  private val symIn = "replace(text, ' hash ', ' # ')"
  private val urlIn = "replace(text, 'scan', 'http://example.com/scan')"
  private val numIn = "replace(text, 'batch', '12345')"
  private val longIn = "replace(text, 'window', repeat('w', 1100))"
  private val piiIn =
    "text || ' Contact user' || cast(doc_id as string) || '@example.com or call +1-555-' || " +
      "cast(100 + doc_id % 900 as string) || '-' || cast(1000 + doc_id % 9000 as string) || " +
      "' from 10.0.' || cast(doc_id % 256 as string) || '.7 now.'"
  private val piiInDuck = piiIn // same SQL works in DuckDB (cast as string OK? see oracle)
  private val mdIn =
    "'**' || text || '** and *tail* with [link](http://x.y) ' || text"
  private def nlIn(ch: String => String) =
    s"replace(text, ' row ', ${ch("10")} || ${ch("10")} || ${ch("10")} || ${ch("10")})"

  private val sparkCh: String => String = n => s"char($n)"
  private val duckCh: String => String = n => s"chr($n)"

  // boilerplate filter/modifier inputs: one policy paragraph injected at
  // top / bottom / middle, plus a lorem-ipsum case (Constants.policySubstrings)
  private def boilIn(ch: String => String) = {
    val nn = s"${ch("10")} || ${ch("10")}"
    s"""CASE WHEN doc_id % 4 = 0 THEN 'This site uses cookies.' || $nn || text
            WHEN doc_id % 4 = 1 THEN text || $nn || 'Read our Privacy Policy.'
            WHEN doc_id % 4 = 2 THEN 'Lorem ipsum dolor.' || $nn || text
            ELSE text || $nn || 'We use cookies here.' || $nn || text END"""
  }
  // repeated-line / repeated-paragraph CHAR-ratio inputs: every ' value '
  // occurrence becomes the same ~125-char line/paragraph, so docs with
  // >=2 occurrences carry enough duplicated char mass to cross the 0.8
  // unique-char cutoff (a short dup line never moves the char ratio)
  private val dupLine =
    "'this same boilerplate line repeats again and again across the document wasting characters on duplicated content for everyone'"
  private def linesDupIn(ch: String => String) =
    s"replace(text, ' value ', ${ch("10")} || $dupLine || ${ch("10")})"
  private def parasDupIn(ch: String => String) =
    s"replace(text, ' value ', ${ch("10")} || ${ch("10")} || $dupLine || ${ch("10")} || ${ch("10")})"
  // extract_html input: even docs get stopword-enriched text (density
  // ~0.5, passes the 0.32 gate and roundtrips byte-identically), odd
  // docs keep natural text (density < 0.32 → extractor returns None)
  private val extractIn =
    "CASE WHEN doc_id % 2 = 0 THEN replace(text, ' ', ' the ') ELSE text END"
  // duplicate-5-gram input: a 10-word insert containing the same 5-gram twice
  private val dupNgramIn =
    "replace(text, ' batch ', ' v w x y z v w x y z ')"
  private val pornIn =
    "CASE WHEN doc_id % 4 = 0 THEN replace(text, 'scan', 'see http://bad.example.com/porn/x now') " +
      "ELSE replace(text, 'scan', 'see http://ok.example.com/x now') END"
  private val substrIn =
    "CASE WHEN doc_id % 2 = 0 THEN 'PREFIX: ' || text ELSE text END"
  private def quotIn(ch: String => String) =
    s"""CASE WHEN doc_id % 4 = 0 THEN '"Q' || text || '"'
             WHEN doc_id % 4 = 1 THEN '"M' || text || ${ch("10")} || 'tail"'
             WHEN doc_id % 4 = 2 THEN '"X"' || ${ch("10")} || text || '"'
             ELSE text END"""
  private val sliceIn =
    "CASE WHEN doc_id % 2 = 0 THEN 'head [S] ' || text || ' [E] tail' ELSE text END"
  // exact-dedup input: every 10th doc collapses onto one of three shared
  // texts -> 3 duplicate groups; all other docs keep natural (unique)
  // text. Keeps the removal path non-vacuous at every sf.
  private val exactDupIn =
    "CASE WHEN doc_id % 10 = 0 THEN 'shared duplicate page body ' || cast(doc_id % 30 as string) ELSE text END"
  // near-dup pair input: a fully CONSTRUCTED corpus so the exact
  // all-pairs Jaccard oracle and the sketch candidate generators agree
  // at EVERY testdata scale (raw-corpus pairs near the J=0.5 boundary
  // sit where 20x13-band LSH recall < 1 — the old entries were pinned
  // to sf0.01). Per decade g: doc g+2 = 96 unique template words,
  // g+7 = exact copy (SimHash hamming 0, MinHash all bands equal —
  // guaranteed catch), g+3 = copy + one appended word (token-3-gram
  // J = 94/95 ~ 0.989; char-24-gram J ~ 0.992 since only the ~6
  // appended-tail shingles differ -> per-pair 20x13-band LSH miss
  // probability (1-J^13)^20 ~ 1e-20, and the whole construction is
  // deterministic — verified green at sf0.001/0.01/0.1; this entry is
  // what exposed the small-`a` permutation bias fixed in
  // MinHashLSH.coefficients). All other docs get globally unique
  // words, so the exact J >= 0.5 pair set is EXACTLY the planted 3
  // pairs per decade.
  private val ndTemplate =
    (0 until 96).map(i => s"t${('a' + i / 26).toChar}${('a' + i % 26).toChar}#").mkString(" ")
  // non-planted docs use a STRUCTURALLY distinct template ('k…w' words)
  // plus a per-doc-unique replacement: token n-grams never overlap the
  // planted groups (exact J = 0) AND the hashed char-ngram embedding
  // stays far from them. The salt is the doc_id's md5 HEX, not the
  // decimal id: decimal salts share an ever-growing digit prefix as ids
  // get longer ('u49998' vs 'u49999' share most char n-grams), and at a
  // 50k-row sweep neighboring else-docs crossed the 0.95 cosine gate —
  // hex salts of adjacent ids share nothing, so the margin is
  // id-length-INDEPENDENT (md5(varchar) hashes the UTF-8 decimal string
  // identically in Spark and DuckDB).
  private val ndTemplateElse =
    (0 until 96).map(i => s"k${('a' + i / 26).toChar}${('a' + i % 26).toChar}w#").mkString(" ")
  private val nearDupIn =
    s"""CASE WHEN doc_id % 10 = 2 THEN replace('$ndTemplate', '#', cast(doc_id - 2 as string))
             WHEN doc_id % 10 = 3 THEN replace('$ndTemplate', '#', cast(doc_id - 3 as string)) || ' xtail'
             WHEN doc_id % 10 = 7 THEN replace('$ndTemplate', '#', cast(doc_id - 7 as string))
             ELSE replace('$ndTemplateElse', '#', 'u' || md5(cast(doc_id as string))) END"""
  // incremental-dedup input: the nearDupIn construction EXTENDED with a
  // second planted template so a corpus/batch split on doc_id parity
  // exercises every incremental-semantics path with a closed-form
  // oracle. Decades are even (g = 10k), so residues pick sides
  // deterministically: g+2 (even -> corpus) anchors template-1;
  // g+3 (odd -> batch, +' xtail', J~0.989) and g+7 (odd -> batch, exact
  // copy) are DIRECT HITS against the corpus index; g+5/g+9 (both odd
  // -> batch) are a template-2 near-dup pair with NO corpus
  // counterpart — an UNANCHORED intra-batch component keeping its min
  // (g+5), removing g+9. Everything else is the globally-unique
  // else-template. Expected removals among the odd batch: residues
  // {3, 7, 9} exactly — linear SQL, scale-robust (same LSH-miss
  // analysis as nearDupIn: per-pair miss probability ~1e-20).
  private val ndTemplate2 =
    (0 until 96).map(i => s"n${('a' + i / 26).toChar}${('a' + i % 26).toChar}#").mkString(" ")
  private val incDupIn =
    s"""CASE WHEN doc_id % 10 = 2 THEN replace('$ndTemplate', '#', cast(doc_id - 2 as string))
             WHEN doc_id % 10 = 3 THEN replace('$ndTemplate', '#', cast(doc_id - 3 as string)) || ' xtail'
             WHEN doc_id % 10 = 7 THEN replace('$ndTemplate', '#', cast(doc_id - 7 as string))
             WHEN doc_id % 10 = 5 THEN replace('$ndTemplate2', '#', cast(doc_id - 5 as string))
             WHEN doc_id % 10 = 9 THEN replace('$ndTemplate2', '#', cast(doc_id - 9 as string)) || ' ytail'
             ELSE replace('$ndTemplateElse', '#', 'u' || md5(cast(doc_id as string))) END"""
  // incremental EXACT input: %5==0 docs share one of three texts keyed
  // by doc_id % 15, so every odd member's text also exists on an even
  // (corpus) member -> the planted batch removals are the odd %5==0
  // ids. Other docs keep NATURAL text, which contains genuine duplicate
  // pairs at sf0.1+ (found by the 10x sweep: +6 removals at 5k rows) —
  // so the oracle recomputes the index/keep-first semantics in SQL
  // rather than asserting the closed form.
  private val exactIncIn =
    "CASE WHEN doc_id % 5 = 0 THEN 'shared snapshot page body ' || cast(doc_id % 15 as string) ELSE text END"
  // char-NGRAM-embedding variant of nearDupIn for the embedding-space
  // near-dup entry: decimal salts are suffix-correlated ('1032' is a
  // substring of '41032'), which leaves token-Jaccard at 0 but pushes
  // hashed CHAR-ngram cosine over the 0.95 gate once ids grow past the
  // tested range (found by a 50k-row replication sweep). 16-hex md5
  // salts on EVERY branch make shingle overlap id-length-independent;
  // planted groups still share their group salt, so the token-Jaccard
  // oracle structure is unchanged.
  private val embNearDupIn = {
    def salt(d: String) = s"substring(md5(cast($d as string)), 1, 16)"
    // the else salt derives from 'e'||id, NOT the bare id: doc g+0's
    // bare-id hash would EQUAL its decade's planted-group salt
    // (md5(g) = md5((g+2)-2)), and with 16-hex salts dominating the
    // word content that shared salt pushed else-vs-planted cosine over
    // the gate in ~0.1% of decades
    def eSalt(d: String) = s"substring(md5('e' || cast($d as string)), 1, 16)"
    s"""CASE WHEN doc_id % 10 = 2 THEN replace('$ndTemplate', '#', ${salt("doc_id - 2")})
             WHEN doc_id % 10 = 3 THEN replace('$ndTemplate', '#', ${salt("doc_id - 3")}) || ' xtail'
             WHEN doc_id % 10 = 7 THEN replace('$ndTemplate', '#', ${salt("doc_id - 7")})
             ELSE replace('$ndTemplateElse', '#', 'u' || ${eSalt("doc_id")}) END"""
  }
  // simhash pair input: the near member is a BLOCK SWAP of its base —
  // 'zs A zs B zs' and 'zs B zs A zs' have identical word-unigram AND
  // word-bigram multisets, so their 64-bit simhash (built from exactly
  // those features) is IDENTICAL by construction: hamming 0, candidate
  // recall GUARANTEED at every scale with zero sketch luck — while
  // their token-3-gram sets differ at the two block boundaries
  // (J = 96/98 ~ 0.9796 >= 0.5, a true near-duplicate to the oracle).
  private val ndTplA =
    (0 until 48).map(i => s"p${('a' + i / 26).toChar}${('a' + i % 26).toChar}#").mkString(" ")
  private val ndTplB =
    (0 until 48).map(i => s"q${('a' + i / 26).toChar}${('a' + i % 26).toChar}#").mkString(" ")
  private val swapDupIn = {
    def blk(tpl: String, d: String) = s"replace('$tpl', '#', cast($d as string))"
    s"""CASE WHEN doc_id % 10 = 2 THEN 'zs ' || ${blk(ndTplA, "doc_id - 2")} || ' zs ' || ${blk(ndTplB, "doc_id - 2")} || ' zs'
             WHEN doc_id % 10 = 3 THEN 'zs ' || ${blk(ndTplB, "doc_id - 3")} || ' zs ' || ${blk(ndTplA, "doc_id - 3")} || ' zs'
             WHEN doc_id % 10 = 7 THEN 'zs ' || ${blk(ndTplA, "doc_id - 7")} || ' zs ' || ${blk(ndTplB, "doc_id - 7")} || ' zs'
             ELSE replace('$ndTemplate', '#', 'w' || cast(doc_id as string)) END"""
  }
  // ft_quality input: even docs carry a marker n-gram the char-ngram
  // model can learn, so hq/lq scores separate decisively
  private val ftQualityIn =
    "CASE WHEN doc_id % 2 = 0 THEN text || ' zqualityzmarkerz' ELSE text END"
  // ft_langid input: interleave the lang code as that language's
  // "function word" between every pair of words — the raw testdata
  // text is identically distributed across langs (no model could
  // separate it), and a single appended marker loses to per-doc text
  // noise (~300 chars over a ~30-word vocab). ~50 occurrences per doc
  // give the planted lang a ~2000-log-unit NB margin at every sf, the
  // way real languages separate on ubiquitous function words
  private val ftLangIn = "replace(text, ' ', ' ' || lang || ' ')"
  // quality_classifier input: marker PREPENDED so max_chars truncation
  // can never drop it; the committed tiny artifact predicts
  // __label__hq exactly iff the marker token is present
  private val qcIn =
    "CASE WHEN doc_id % 2 = 0 THEN 'zqualityzmarkerz ' || text ELSE text END"
  // domain / content-type inputs: one taxonomy marker per doc,
  // prepended (inside the max_chars cap), cycling a few labels so
  // both the argmax and the filter_by keep-set are SQL-replayable
  private val domainIn =
    """CASE CAST(doc_id % 4 AS INT)
         WHEN 0 THEN 'zdomznews ' || text
         WHEN 1 THEN 'zdomzsports ' || text
         WHEN 2 THEN 'zdomzgames ' || text
         ELSE 'zdomzhealth ' || text END"""
  private val contentIn =
    """CASE CAST(doc_id % 3 AS INT)
         WHEN 0 THEN 'zctzblogs ' || text
         WHEN 1 THEN 'zctznews ' || text
         ELSE 'zctzreviews ' || text END"""
  // artifact-embedder input: two topic words (from the committed
  // 16-vector artifact's vocab) around the OOV body — class =
  // (doc_id%8, doc_id%5) ⇔ doc_id mod 40 by CRT
  private val embArtIn =
    "'ztopic' || cast(doc_id % 8 as string) || ' ' || text || ' ztopic' || cast(8 + doc_id % 5 as string)"
  /** Cascade-entry input construction, replicated verbatim in the
    * DuckDB oracle and tools/gen_reference_labels.py (labels are keyed
    * by md5 of THIS string): case 0 keepable enriched prose, case 1
    * '%' spam (EN drops at alpha_numeric, non-EN at white_space),
    * case 2 de-the'd 'zz' interleave (EN common_english vs non-EN
    * mean_word_length), case 3 raw text.
    */
  private val cascadeIn =
    """CASE CAST(doc_id % 4 AS INT)
         WHEN 0 THEN text || ' and that is how the story of the day came to a close with all of it said and done for sure by the people we know and trust in this town.'
         WHEN 1 THEN replace(text, ' ', ' the ') || '. ' || repeat('% ', 60)
         WHEN 2 THEN replace(replace(text, 'the', 'thx'), ' ', ' zz ') || '.'
         ELSE text END"""

  private def lineRemIn(ch: String => String) =
    s"replace(text, ' the ', ${ch("10")} || 'REMOVE' || ${ch("10")})"

  // DuckDB word-list expression (Python str.split() semantics on ASCII)
  private def duckWords(in: String) =
    s"regexp_split_to_array(regexp_replace($in, '^\\s+|\\s+$$', '', 'g'), '\\s+')"

  // ---------- per-filter query builder ----------
  private def hfQuery(f: DocFilter, inputExpr: String = "text")
  : (SparkSession, String) => DataFrame = { (s, dir) =>
    // two DETERMINISTIC UDFs on purpose: deterministic projections are
    // prunable, which keeps actions that don't consume the columns
    // (e.g. a bare count) from paying for them — a fused
    // nondeterministic struct UDF would force evaluation everywhere
    val scoreU = udf((t: String) => f.score(t))
    val keepU = udf((t: String) => f.keepDocument(t))
    tbl(s, dir, "documents")
      .withColumn("_in", expr(inputExpr))
      .select(col("doc_id"), round(scoreU(col("_in")), 6).as("score"),
        keepU(col("_in")).as("keep"))
  }

  /** Flagship: full curation pipeline over the documents table. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    CurationPipeline.curate(docs)
      .select("doc_id", "keep", "first_reject", "quality_score", "token_count", "scrubbed_text")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ================= relational core =================
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
    }),

    "q2_join" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cust = tbl(s, dir, "customer")
      val nation = tbl(s, dir, "nation")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("order_cnt"), round(sum("o_totalprice"), 2).as("total"))
    }),

    "q3_topk" -> ((s, dir) => {
      // orderBy+limit compiles to TakeOrderedAndProject (per-partition
      // partial top-k, no global sort). rn is derived on the 10-row
      // result via a broadcast self-rank: counting preceding rows in
      // the total order avoids WindowExec entirely (a constant
      // partitionBy key gets constant-folded and the window degrades
      // to the unpartitioned single-partition form — PlanShapeSpec
      // guards this)
      val top = tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
      val other = broadcast(top.select(
        col("o_orderkey").as("_k"), col("o_totalprice").as("_p")))
      top.join(other,
          col("_p") > col("o_totalprice") ||
            (col("_p") === col("o_totalprice") && col("_k") <= col("o_orderkey")))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(count(lit(1)).cast("int").as("rn"))
        .select("o_orderkey", "o_totalprice", "rn")
    }),

    "q4_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    "q5_antijoin" -> ((s, dir) => {
      // orders with no lineitems — anti-join pattern of the dedup removal
      val orders = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"))
      orders.join(li, Seq("o_orderkey"), "left_anti").select("o_orderkey", "o_totalprice")
    }),

    "q6_events_window" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
    }),

    "q7_split_join" -> ((s, dir) => {
      // DocumentSplitter + DocumentJoiner round trip (explode → window
      // order → re-join); identity on single-spaced text
      val docs = tbl(s, dir, "documents")
      docs.select(col("doc_id"), posexplode(split(col("text"), " ", -1)).as(Seq("segment_id", "word")))
        .groupBy("doc_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("segment_id"), col("word")))),
            x => x.getField("word")), " ").as("rejoined"))
    }),

    // ================= heuristic filters =================
    "hf_word_count" -> hfQuery(HF.WordCount(50, 100000)),
    "hf_nonalpha" -> hfQuery(HF.NonAlphaNumeric()),
    "hf_numbers" -> hfQuery(HF.Numbers(), numIn),
    "hf_whitespace" -> hfQuery(HF.WhiteSpace()),
    "hf_parentheses" -> hfQuery(HF.Parentheses(), "replace(text, 'part', '(part)')"),
    "hf_urls" -> hfQuery(HF.Urls(), urlIn),
    "hf_mean_word_length" -> hfQuery(HF.MeanWordLength()),
    "hf_long_word" -> hfQuery(HF.LongWord(), longIn),
    "hf_common_english" -> hfQuery(HF.CommonEnglishWords()),
    "hf_symbols_to_words" -> hfQuery(HF.SymbolsToWords(), symIn),
    "hf_repeated_lines" -> hfQuery(HF.RepeatedLines(), linesIn(sparkCh)),
    "hf_repeated_paragraphs" -> hfQuery(HF.RepeatedParagraphs(), parasIn(sparkCh)),
    "hf_punctuation" -> hfQuery(HF.Punctuation(), punctIn(sparkCh)),
    "hf_ellipsis" -> hfQuery(HF.Ellipsis(), ellipsisIn(sparkCh)),
    "hf_bullets" -> hfQuery(HF.Bullets(), bulletsIn(sparkCh)),
    "hf_words_without_alphabets" -> hfQuery(HF.WordsWithoutAlphabets(), numIn),
    "hf_histogram" -> hfQuery(HF.Histogram(
      (('a' to 'z') ++ ('A' to 'Z') ++ Seq(' ', '.')).toSet, 0.8)),
    "hf_boilerplate" -> hfQuery(HF.BoilerPlateString(), boilIn(sparkCh)),
    "hf_repeated_lines_char" -> hfQuery(HF.RepeatedLinesByChar(), linesDupIn(sparkCh)),
    "hf_repeated_paragraphs_char" -> hfQuery(HF.RepeatedParagraphsByChar(), parasDupIn(sparkCh)),
    "hf_top_ngrams" -> hfQuery(HF.RepeatingTopNGrams(2, 0.2)),
    "hf_dup_ngrams" -> hfQuery(HF.RepeatingDuplicateNGrams(5, 0.15), dupNgramIn),
    "hf_porn_urls" -> hfQuery(HF.PornographicUrls(), pornIn),
    "hf_substring" -> hfQuery(HF.Substring("PREFIX:", "prefix"), substrIn),
    "cf_alpha" -> hfQuery(graft.filters.CodeFilters.Alpha(), numIn),
    // a long '. ' prefix tokenizes at 2.0 chars/token and dominates the
    // doc, dropping every 5th doc below the 2.5 fertility cutoff
    "cf_fertility" -> hfQuery(graft.filters.CodeFilters.TokenizerFertility(),
      "CASE WHEN doc_id % 5 = 0 THEN repeat('. ', 800) || text ELSE text END"),
    "cf_num_lines" -> hfQuery(graft.filters.CodeFilters.NumberOfLines(2, 100), linesIn(sparkCh)),
    "cf_xml_header" -> hfQuery(graft.filters.CodeFilters.XmlHeader(),
      "CASE WHEN doc_id % 5 = 0 THEN '<?xml version=\"1.0\"?>' || text ELSE text END"),

    // full cascade over the constructed input (keeps + divergent
    // rejects exercised) — oracle = labels parquet generated by running
    // the REFERENCE'S OWN filter code over the same constructed texts
    "cascade_en" -> ((s, dir) => {
      graft.filters.Cascade.score(
          tbl(s, dir, "documents").withColumn("text", expr(cascadeIn)))
        .select("doc_id", "keep", "first_reject")
    }),

    // the SAME cascade driven through the reference's OWN YAML config
    // (ConfigPipeline.parse on heuristic_filter_english_pipeline.yaml →
    // filter list → fused cascade) — driver-checks the config entry
    // point against the reference-generated labels, so a user pointing
    // the YAML runner at a table gets bit-identical keep/first_reject
    "config_cascade_en" -> ((s, dir) => {
      val parsed = graft.pipeline.ConfigPipeline.parse(
        "/root/reference/nemo_curator/config/text/heuristic_filter_english_pipeline.yaml",
        Map("input_path" -> "unused", "output_path" -> "unused"))
      val filters = parsed.stages
        .collect { case f: graft.pipeline.ConfigPipeline.Filters => f }.head.filters
      graft.filters.Cascade.score(
          tbl(s, dir, "documents").withColumn("text", expr(cascadeIn)),
          filters = filters.toArray)
        .select("doc_id", "keep", "first_reject")
    }),

    // the 25-stage NON-English cascade (the reference's second shipped
    // pipeline config) — oracle = reference-generated labels, md5-keyed
    "cascade_non_en" -> ((s, dir) => {
      graft.filters.Cascade.score(
          tbl(s, dir, "documents").withColumn("text", expr(cascadeIn)),
          filters = graft.filters.HeuristicFilters.nonEnglishCascade)
        .select("doc_id", "keep", "first_reject")
    }),

    // ================= scrubbing / modifiers =================
    "scrub_pii" -> ((s, dir) => {
      val u = udf((t: String) => PiiScrub.scrubPii(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(piiIn))
        .select(col("doc_id"), u(col("_in")).as("scrubbed"))
    }),

    "scrub_profanity" -> ((s, dir) => {
      val u = udf((t: String) => PiiScrub.defaultScrubber.scrub(t))
      val tox = udf((t: String) => PiiScrub.defaultScrubber.toxicityScore(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr("replace(text, 'dup', 'xxx')"))
        .select(col("doc_id"), u(col("_in")).as("scrubbed"),
          round(tox(col("_in")), 6).as("toxicity"))
    }),

    "mod_url_remove" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.removeUrls(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(urlIn))
        .select(col("doc_id"), u(col("_in")).as("cleaned"))
    }),

    "mod_newline_norm" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.normalizeNewlines(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(nlIn(sparkCh)))
        .select(col("doc_id"), u(col("_in")).as("normalized"))
    }),

    "mod_markdown_remove" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.removeMarkdown(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(mdIn))
        .select(col("doc_id"), u(col("_in")).as("cleaned"))
    }),

    "mod_quotation" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.removeQuotation(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(quotIn(sparkCh)))
        .select(col("doc_id"), u(col("_in")).as("cleaned"))
    }),

    "mod_slicer" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.slice(t, "[S]", "[E]",
        includeLeft = false, includeRight = false))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(sliceIn))
        .select(col("doc_id"), u(col("_in")).as("sliced"))
    }),

    "mod_line_remove" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.removeLines(t, Set("REMOVE")))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(lineRemIn(sparkCh)))
        .select(col("doc_id"), u(col("_in")).as("cleaned"))
    }),

    "mod_fasttext_label" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.fastTextLabel("__label__hq", t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(nlIn(sparkCh)))
        .select(col("doc_id"), u(col("_in")).as("labeled"))
    }),

    "mod_boilerplate" -> ((s, dir) => {
      val u = udf((t: String) => Modifiers.removeBoilerplate(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr(boilIn(sparkCh)))
        .select(col("doc_id"), u(col("_in")).as("cleaned"))
    }),

    // jusText over constructed pages where every paragraph's class is
    // forced by construction: even docs = link-nav (bad) + long dense
    // paragraph (good) + short note (short→good between goods) + the
    // same dense paragraph; odd docs = nav + a 150-char truncation
    // (neargood→bad with bad neighbours) → extractor returns None
    "justext_extract" -> ((s, dir) => {
      val u = udf((t: String, odd: Boolean) => {
        val enr = t.replace(" ", " the ")
        // tripling forces length > 200 (good regime) even for the
        // shortest docs; the truncation stays in [min(len,150)] so odd
        // docs land in the short/neargood regimes that revise to bad
        val tri = enr + " and " + enr + " and " + enr
        val para = if (odd) enr.substring(0, math.min(150, enr.length)) else tri
        val html =
          if (odd)
            s"""<body><div><a href="/">Home</a> <a href="/about">About</a></div><p>$para</p></body>"""
          else
            s"""<body><div><a href="/">Home</a> <a href="/about">About</a></div><p>$para</p><p>tiny note and more</p><p>$para</p></body>"""
        graft.extract.JusText.extract(html).orNull
      })
      tbl(s, dir, "documents")
        .select(col("doc_id"), u(col("text"), col("doc_id") % 2 === 1).as("extracted"))
    }),

    // Megatron indexed-dataset export: tokenize + write .bin/.idx shards
    // (one per partition), read the shards back, emit corpus totals the
    // oracle recomputes from the raw table (whitespace tokenizer)
    "megatron_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val out = java.nio.file.Files.createTempDirectory("graft_megatron").toString
      val stats = graft.io.MegatronWriter.write(
        docs, "text", out, graft.io.MegatronWriter.hashTokenizer(50000), vocabSize = 50000)
      val back = stats.map { st =>
        val seqs = graft.io.MegatronWriter.readShard(st.path)
        (seqs.size.toLong, seqs.map(_.length.toLong).sum)
      }
      Seq((back.map(_._1).sum, back.map(_._2).sum)).toDF("docs", "total_tokens")
    }),

    // ================= html extraction =================
    // wrapHtml(text) -> extractFromBytes byte-identity roundtrip
    // (reference extract.py:88 invariant), gated by the stopword-density
    // paragraph filter (resiliparse.py:55-79): extracted == text when the
    // single paragraph passes the density gate, NULL otherwise
    "extract_html" -> ((s, dir) => {
      val u = udf((id: Long, t: String) =>
        graft.extract.HtmlExtract.extractFromBytes(
          graft.fixtures.CCPages.wrapHtml(s"Doc $id", t).getBytes("UTF-8")).orNull)
      tbl(s, dir, "documents")
        .withColumn("_in", expr(extractIn))
        .select(col("doc_id"), u(col("doc_id"), col("_in")).as("extracted"))
    }),

    // ================= text analysis =================
    "ta_token_count" -> ((s, dir) => {
      val wsU = udf((t: String) => TextStats.whitespaceTokenCount(t))
      val bpeU = udf((t: String) => TextStats.bpeTokenCount(t))
      tbl(s, dir, "documents")
        .select(col("doc_id"), wsU(col("text")).as("ws_tokens"), bpeU(col("text")).as("bpe_tokens"))
    }),

    "ta_langid" -> ((s, dir) => {
      val u = udf((t: String) => TextStats.heuristicLangId(t))
      tbl(s, dir, "documents")
        .withColumn("_p", u(col("text")))
        .select(col("doc_id"), col("_p._1").as("lang_pred"), round(col("_p._2"), 6).as("lang_score"))
    }),

    "ta_quality" -> ((s, dir) => {
      val u = udf((t: String) => TextStats.qualityScore(t))
      tbl(s, dir, "documents")
        .select(col("doc_id"), round(u(col("text")), 6).as("quality"))
    }),

    "ta_fingerprint" -> ((s, dir) => {
      val u = udf((t: String) => TextStats.fingerprint64(t))
      tbl(s, dir, "documents").select(col("doc_id"), u(col("text")).as("fp64"))
    }),

    // ================= deduplication =================
    // planted EXACT duplicates (the raw testdata has none): every 10th
    // doc takes one of three shared texts, so the removal set is
    // NON-EMPTY and order-sensitive (min doc_id per group kept) — the
    // same construction replicated in the DuckDB oracle
    "dedup_exact_ids" -> ((s, dir) =>
      ExactDedup.removalIds(
        tbl(s, dir, "documents").withColumn("text", expr(exactDupIn)))
        .select(col("doc_id"))),

    "dedup_exact_kept" -> ((s, dir) =>
      ExactDedup.removeDuplicates(
        tbl(s, dir, "documents").withColumn("text", expr(exactDupIn)))
        .select("doc_id")),

    // constructed corpus (see nearDupIn): the exact J>=0.5 dup graph is
    // the planted per-decade cliques at every scale, so the full
    // LSH -> connected-components -> keep-first path has a scale-robust
    // equality oracle (raw-corpus pairs near the boundary sat in the
    // LSH recall gap at scales other than sf0.01)
    "dedup_minhash_ids" -> ((s, dir) =>
      MinHashLSH.removalIds(spread(tbl(s, dir, "documents").withColumn("text", expr(nearDupIn))))),

    // LM sanity gate: average word-perplexity on the training half must
    // strictly beat the held-out half — the aggregate property a DuckDB
    // oracle CAN assert about a trained model (per-doc perplexities
    // stay in the rows-only lm_perplexity). STRICT (not 2x): the
    // overfit margin shrinks as the corpus grows (measured ratio 3.2 /
    // 3.4 / 1.24 at sf0.001/0.01/0.1 — a fixed 2x was sf0.01-pinned),
    // while train < held-out holds at every scale by construction.
    "lm_ppl_gate" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text").orderBy("doc_id").limit(TrainCap)
        .collect().map(_.getString(1)).toSeq
      val lm = graft.lm.NGramLM.train(train, order = 3)
      graft.langid.FastTextFilters.withPerplexity(docs, lm)
        .agg(
          avg(when(col("doc_id") % 2 === 0, col("perplexity"))).as("_tr"),
          avg(when(col("doc_id") % 2 === 1, col("perplexity"))).as("_he"),
          count(lit(1)).as("docs"))
        .select((col("_tr") < col("_he")).as("train_better"), col("docs"))
    }),

    // sketch-then-verify: simhash bands propose candidates (hamming<=4),
    // exact token-3-gram Jaccard disposes — output is oracle-checkable
    // against the exact all-pairs J>=0.5 ground truth over the
    // CONSTRUCTED nearDupIn corpus (scale-robust; see nearDupIn)
    // both pairs entries materialize the constructed corpus ONCE: the
    // grouping pass and the two text-rejoin sides of the verify step
    // otherwise each re-evaluate the scan + giant CASE projection +
    // repartition subtree (and each pays its own codegen of it)
    "dedup_simhash_pairs" -> ((s, dir) =>
      SimHash.verifiedNearDupPairs(
          Materialize(spread(tbl(s, dir, "documents").withColumn("text", expr(swapDupIn)))),
          maxHamming = 4, minJaccard = 0.5)
        .select(col("src"), col("dst"), round(col("jaccard"), 6).as("jaccard"))),

    "dedup_jaccard_pairs" -> ((s, dir) =>
      MinHashLSH.verifiedPairs(
          Materialize(spread(tbl(s, dir, "documents").withColumn("text", expr(nearDupIn)))),
          minJaccard = 0.5)
        .select(col("src"), col("dst"), round(col("jaccard"), 6).as("jaccard"))),

    // incremental (cross-snapshot) fuzzy dedup: even docs are the
    // already-kept corpus (banded index), odd docs the new batch; the
    // construction (see incDupIn) plants direct hits, a transitively
    // anchored pair, and an unanchored intra-batch pair, so the removal
    // set has a closed-form linear oracle at every scale
    "dedup_incremental_ids" -> ((s, dir) => {
      // NO entry-level checkpoint on purpose (A/B-measured slower): the
      // corpus and batch branches read DISJOINT row sets, so only plan
      // text is shared — an eager materialization here adds a job
      // without saving row work. The load-bearing fix is inside
      // removalsFromBands (the direct-hit list is checkpointed so the
      // corpus-side signature pass runs once, not three times).
      val docs = spread(tbl(s, dir, "documents").withColumn("text", expr(incDupIn)))
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      IncrementalDedup.fuzzyRemovalIds(batch, IncrementalDedup.fuzzyIndex(corpus))
    }),

    // incremental EXACT dedup against a corpus md5 index (see exactIncIn)
    "dedup_incremental_exact" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(exactIncIn))
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      IncrementalDedup.exactRemovalIds(batch, IncrementalDedup.exactIndex(corpus))
    }),

    // ================= similarity search =================
    "knn_brute" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      Knn.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
    }),

    "knn_lsh" -> ((s, dir) => {
      // 32 tables × 6 bits: ~0.82 recall@5 while examining ~40% of
      // candidates on i.i.d. gaussian vectors — the WORST case for
      // SRP-LSH (no cluster structure; real embedding corpora prune far
      // harder at the same recall; parameter sweep in round-1 notes).
      // Emitted as a recall GATE vs the exact brute-force top-5
      // (computed in the same query) so DuckDB can assert it:
      // deterministic at seed 42.
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
      val brute = Knn.bruteForceTopK(emb, q, k = 5).select("query_id", "neighbor_id")
      val approx = Knn.lshTopK(emb, q, k = 5, dim = 64, tables = 32, bits = 6)
        .select("query_id", "neighbor_id")
      val hits = brute.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      // MEAN recall@5 across the query set (the standard ANN quality
      // metric) + a positive per-query floor. A fixed per-query ≥0.5
      // gate was sf0.01-pinned: at sf0.1, 2 of 100 queries dip below
      // it while the mean stays ~0.8 — per-query tail recall is a
      // property of the corpus draw, not of the index
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), (coalesce(col("hits"), lit(0)) / 5.0).as("recall"))
        .agg(count(lit(1)).as("queries"),
          (avg(col("recall")) >= 0.5).as("mean_recall_ok"),
          (min(col("recall")) > 0.0).as("every_query_hits"))
    }),

    // TEXT -> embedding -> kmeans cells -> within-cell pairwise: the
    // full embedder-stage pipeline (deterministic feature-hashing
    // embedder standing in the sentence-transformer slot). The planted
    // near-dup texts separate cleanly in hashed-ngram space (pair
    // cosine >= 0.979 vs <= 0.916 natural), so the recovered pair set
    // equals the exact token-Jaccard ground truth the oracle computes
    // constructed corpus (see nearDupIn): planted pairs embed at
    // cosine ≥ 0.9999 (hashed char-ngram space) while the most similar
    // non-planted pair sits ≤ 0.85 — a deterministic margin around the
    // 0.95 gate at every scale, so the embed → cluster → pairwise path
    // has the same scale-robust equality oracle as the sketch tiers
    // (raw-text runs diverge at sf0.1 where hashed-ngram cosine and
    // token-Jaccard disagree near their thresholds)
    "emb_text_neardup" -> ((s, dir) => {
      val emb = graft.sim.HashEmbedder.withEmbedding(
          spread(tbl(s, dir, "documents").withColumn("text", expr(embNearDupIn))))
        .select("doc_id", "embedding")
      // probes=2: a cosine-0.9999 pair can still straddle a KMeans cell
      // boundary under single-probe blocking (observed once at sf0.1);
      // top-2 cells per point make a shared block certain at this margin
      graft.dedup.SemanticDedup.nearDupPairs(emb, k = 8, eps = 0.05, idCol = "doc_id", probes = 2)
        .select("src", "dst")
    }),

    // ARTIFACT-driven embedder tier: the committed word-vector matrix
    // (mean-pool + L2-normalize, the reference embedder contract —
    // embedders/base.py:88-94) embeds a doc tagged with topics {i, j}
    // to (e_i+e_j)/√2, so the near-dup pair set through the full
    // embed -> kmeans-block -> pairwise path is EXACTLY the same-class
    // relation doc_id ≡ (mod 40) with cosine 1.0 (cross-class max is
    // 0.5 — a deterministic margin around the 0.9 gate at every sf;
    // identical vectors can never straddle a kmeans cell, and cells
    // stay far under MaxCellSize through sf0.1)
    "emb_artifact_neardup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(embArtIn))
      val emb = graft.sim.WordVecEmbedder.withEmbedding(
          spread(docs), modelPath = "src/main/resources/models/embed_tiny.bin")
        .select("doc_id", "embeddings")
      graft.dedup.SemanticDedup.nearDupPairs(emb, k = 8, eps = 0.1,
          idCol = "doc_id", vecCol = "embeddings")
        .select(col("src"), col("dst"), round(col("cosine"), 4).as("cosine"))
    }),

    "emb_neardup" -> ((s, dir) => {
      Knn.nearDupPairsWithin(tbl(s, dir, "embeddings"), "label", minCosine = 0.3)
        .select(col("src"), col("dst"), round(col("cosine"), 4).as("cosine"))
    }),

    // ================= multimodal plumbing =================
    "mm_meta" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
      graft.multimodal.BinaryOps.withMediaMeta(docs, "payload")
        .select(col("doc_id"), col("meta.byte_length").as("byte_length"),
          col("meta.sha256").as("sha256"))
    }),

    // image-pipeline scoring heads END TO END: per-row WebDataset
    // shard roundtrip (tar build -> reader parse, the warc_roundtrip
    // pattern) -> decode stub (UTF-8) -> committed word-vec embedder
    // -> committed aesthetic head (keep score >= 10) -> committed NSFW
    // sigmoid head (keep score < 0.5). With one-hot topic embeddings
    // every score is a closed form of doc_id (see the oracle); the
    // mixed-parity NSFW case lands EXACTLY on 0.5 (z = 4x - 4x = 0 in
    // double) and is dropped by the reference's strict < threshold
    "image_scoring" -> ((s, dir) => {
      import s.implicits._
      val rows = spread(tbl(s, dir, "documents").withColumn("text", expr(embArtIn)))
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val shard = graft.multimodal.WebDataset.buildShard(Seq(
            (f"$id%08d", Map("jpg" -> text.getBytes("UTF-8"),
              "json" -> s"""{"doc_id":$id}""".getBytes("UTF-8")))))
          val (key, parts) = graft.multimodal.WebDataset
            .iterateStream(new java.io.ByteArrayInputStream(shard)).next()
          (id, key, new String(parts("jpg"), "UTF-8"))
        }.toDF("doc_id", "key", "decoded")
      val emb = graft.sim.WordVecEmbedder.withEmbedding(rows,
        modelPath = "src/main/resources/models/embed_tiny.bin",
        textCol = "decoded", outCol = "embedding")
      val aes = graft.multimodal.ImageAestheticFilter(
        "src/main/resources/models/aesthetic_tiny.bin", scoreThreshold = 10.0)
      val nsfw = graft.multimodal.ImageNsfwFilter(
        "src/main/resources/models/nsfw_tiny.bin")
      nsfw(aes(emb))
        .select(col("doc_id"), col("key"),
          round(col("aesthetic_score"), 4).as("aesthetic_score"),
          round(col("nsfw_score"), 4).as("nsfw_score"))
    }),

    // video motion-filter decision logic over the injected-decode
    // posture: constant per-pixel flow (a, 0) with a = (doc_id%10)·2⁻⁹
    // (exact in float32) on a 2×2 frame gives global_mean =
    // per_patch_min = (doc_id%10)·2⁻¹¹ exactly, so the keep rule
    // (gm ≥ 0.00098 AND pp ≥ 1e-6; k=2 → 0.0009765625 sits just BELOW
    // the gm threshold) and the failed-decode fake-score path
    // (doc_id%13 = 0 → null frames → -1/-1, dropped) replay in SQL
    "video_motion" -> ((s, dir) => {
      val a = ((col("doc_id") % 10).cast("double") * lit(0.001953125)).cast("float")
      val zf = lit(0.0).cast("float")
      val frame = array(a, zf, a, zf, a, zf, a, zf) // 2×2 pixels × (vx, vy)
      val clips = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0, lit(null))
          .otherwise(array(frame, frame)).as("decoded_motion_data"))
      graft.video.MotionFilter.filterClips(clips, h = 2, w = 2)
        .select(col("doc_id"),
          round(col("motion_score_global_mean"), 6).as("motion_score_global_mean"),
          round(col("motion_score_per_patch_min_256"), 6).as("motion_score_per_patch_min_256"))
    }),

    // caption-preparation windowing: n = doc_id·7 % 700 sweeps every
    // branch at every sf (below-min-frames drop, single window,
    // remainder >= threshold as its own window, small remainder
    // merged into the last full window, three windows); the verbatim
    // prompt's byte fidelity is pinned in CaptioningSpec, the oracle
    // checks its length rides every window row
    "video_caption_windows" -> ((s, dir) => {
      val clips = tbl(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") * 7 % 700).cast("int").as("total_frames"))
      graft.video.Captioning.prepareWindows(clips)
        .select(col("doc_id"), col("window_start"), col("window_end"),
          length(col("caption_prompt")).as("prompt_len"))
    }),

    // codec-free MP4 container probe (VideoReaderStage metadata slot):
    // per-row fixture mp4 built from doc_id, box-walked back — every
    // recovered field is a closed form (fps = timescale·frames/ticks
    // = exactly 25.0 with 40-tick deltas)
    "video_probe" -> ((s, dir) => {
      import s.implicits._
      spread(tbl(s, dir, "documents")).select("doc_id").as[Long].map { id =>
        val w = 320 + (id % 4).toInt * 160
        val h = 240 + (id % 3).toInt * 120
        val frames = 30 + (id % 50).toInt
        val m = graft.video.Mp4Probe.probe(graft.video.Mp4Probe.buildFixtureMp4(
          w, h, timescale = 1000, durationTicks = frames * 40,
          frameCount = frames, frameDelta = 40))
        (id, m.width.get, m.height.get, m.numFrames.get, m.duration.get,
          m.framerate.get, m.videoCodec.get, m.audioCodec.get)
      }.toDF("doc_id", "width", "height", "num_frames", "duration",
          "framerate", "video_codec", "audio_codec")
        .withColumn("duration", round(col("duration"), 6))
        .withColumn("framerate", round(col("framerate"), 6))
    }),

    // TransNetV2 post-processing: planted transition frames at every
    // 10th index -> exact scene spans incl. the trailing-scene rule
    "video_scene_clips" -> ((s, dir) => {
      val clips = tbl(s, dir, "documents").select(col("doc_id"), expr(
        """transform(sequence(0, 39 + CAST(doc_id % 60 AS INT)),
             i -> CASE WHEN i > 0 AND i % 10 = 0 THEN 1 ELSE 0 END)""").as("predictions"))
      graft.video.SceneClips.clipsFromPredictions(clips)
        .select(col("doc_id"), col("clip_start"), col("clip_end"))
    }),

    // ClipFrameExtractionStage sampling arithmetic: uniform-10fps
    // clips of nf = 11 + doc_id%7 frames, policies sequence+middle,
    // integral targets [2,5] → the LCM decode-sharing path selects
    // every frame once at 10fps then strides [::5]/[::2]; middle
    // takes the left-of-pair frame. Every selected index is the
    // closed form the oracle recomputes.
    "video_frame_extraction" -> ((s, dir) => {
      val docs = spread(tbl(s, dir, "documents")).select(col("doc_id"),
        (lit(11) + col("doc_id") % 7).cast("int").as("nf"))
      val withTs = docs.withColumn("frame_timestamps",
        expr("transform(sequence(0, nf - 1), i -> CAST(i / 10.0D AS FLOAT))"))
      graft.video.FrameExtraction.withExtractedFrames(withTs,
          policies = Seq(graft.video.FrameExtraction.Sequence,
            graft.video.FrameExtraction.Middle),
          targetFps = Seq(2.0, 5.0))
        .select(col("doc_id"), explode(col("extracted_frames")).as(Seq("signature", "idxs")))
        .select(col("doc_id"), col("signature"),
          posexplode(col("idxs")).as(Seq("pos", "frame_idx")))
        .select(col("doc_id"), col("signature"),
          col("pos").cast("long").as("pos"), col("frame_idx").cast("long").as("frame_idx"))
    }),

    // FixedStrideExtractorStage span arithmetic: fps=8 (a power of
    // two) keeps every duration/event product EXACT in doubles, so
    // start/end events are closed forms at every sf
    "video_fixed_stride" -> ((s, dir) => {
      val vids = spread(tbl(s, dir, "documents")).select(col("doc_id"),
        concat(lit("vid"), col("doc_id")).as("video_name"),
        (lit(50) + col("doc_id") % 100).cast("int").as("num_frames"),
        lit(8.0).as("framerate"))
      graft.video.SceneClips.fixedStrideClips(vids,
          clipLenS = 4.0, clipStrideS = 3.0, minClipLengthS = 2.0)
        .select(col("doc_id"), col("start_event"), col("end_event"),
          round(col("span_start"), 6).as("span_start"),
          round(col("span_end"), 6).as("span_end"))
    }),

    // QAMultilingualSyntheticStage: deterministic language pick +
    // {language} template substitution + the *-stripping response
    // post-processor, through the injected-LLM seam (fixture model
    // bolds its output so the strip is exercised)
    "synth_qa_multilingual" -> ((s, dir) => {
      val ids = tbl(s, dir, "documents").select(col("doc_id").as("id"))
      graft.synth.QAMultilingual.withResponses(ids,
          "Write one QA pair in {language}.",
          Seq("English", "German", "Thai"),
          llm = p => s"**$p**")
        .select(col("id").as("doc_id"), col("language"), col("text"))
    }),

    // ClipWriterStage deterministic layout: clip/metadata locations and
    // the filtered-clips routing rule as closed-form strings (the
    // distributed writer itself is byte-stability-gated in
    // ClipWriterSpec; ids use md5 so the oracle can recompute them)
    "video_clip_writer" -> ((s, dir) => {
      import s.implicits._
      spread(tbl(s, dir, "documents")).select("doc_id").as[Long].map { id =>
        val uuid = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"video_$id")
        val filtered = id % 5 == 0
        val dur = 1.0 + (id % 3)
        val loc = graft.video.ClipWriter.clipUri(
          graft.video.ClipWriter.pathClips("/out", filtered), uuid, "mp4")
        val metaLoc = graft.video.ClipWriter.clipUri(
          graft.video.ClipWriter.pathMetas("/out", "v0"), uuid, "json")
        val preview = graft.video.ClipWriter.windowUri(
          graft.video.ClipWriter.pathPreviews("/out"), uuid, 0, 64, "webp")
        (id, uuid, loc, metaLoc, preview, dur, !filtered)
      }.toDF("doc_id", "clip_uuid", "clip_location", "meta_location", "preview_location",
          "clip_duration", "passed")
    }),

    // clip-level aesthetic gate: two frame embeddings per clip from
    // the committed artifacts, mean reduction, keep >= 10 — scores
    // are closed forms of doc_id (cannot land exactly on the
    // threshold: k·x/2 = 10 has no integer solution)
    "video_clip_aesthetic" -> ((s, dir) => {
      val docs = spread(tbl(s, dir, "documents")).select(col("doc_id"),
        expr("'ztopic' || cast(doc_id % 8 as string) || ' ztopic' || cast(8 + doc_id % 5 as string)").as("_f1"),
        expr("'ztopic' || cast(doc_id % 8 as string) || ' ztopic' || cast(8 + (doc_id + 1) % 5 as string)").as("_f2"))
      val emb = graft.sim.WordVecEmbedder.withEmbedding(
        graft.sim.WordVecEmbedder.withEmbedding(docs,
          "src/main/resources/models/embed_tiny.bin", textCol = "_f1", outCol = "_e1"),
        "src/main/resources/models/embed_tiny.bin", textCol = "_f2", outCol = "_e2")
        .withColumn("frame_embeddings", array(col("_e1"), col("_e2")))
      graft.video.ClipAestheticFilter("src/main/resources/models/aesthetic_tiny.bin",
          scoreThreshold = 10.0, reduction = "mean")(emb)
        .select(col("doc_id"), round(col("aesthetic_score"), 4).as("aesthetic_score"))
    }),

    // ================= model-backed filters =================
    // Training-data acquisition is BOUNDED: orderBy(doc_id)+limit(N)
    // compiles to TakeOrderedAndProject (per-partition partial top-N) —
    // the driver materializes at most N rows regardless of corpus size.
    // A production run loads a pre-trained artifact instead (see
    // langid.FastTextBin); these entries train on the capped sample so
    // the catalog stays self-contained and deterministic.
    // per-doc gate (oracle-green): the trained-model perplexity VALUE
    // is not SQL-expressible, but "finite and positive for every doc"
    // is — DuckDB emits the same (doc_id, true) rows; the aggregate
    // train-beats-held-out property is gated by lm_ppl_gate
    "lm_perplexity" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text").orderBy("doc_id").limit(TrainCap)
        .collect().map(_.getString(1)).toSeq
      val lm = graft.lm.NGramLM.train(train, order = 3)
      graft.langid.FastTextFilters.withPerplexity(docs, lm)
        .select(col("doc_id"),
          (col("perplexity") > 0.0 && !isnan(col("perplexity")) &&
            col("perplexity") < lit(Double.PositiveInfinity)).as("ppl_ok"))
    }),

    // model-classifier tier driven by a COMMITTED .bin artifact (no
    // training collect anywhere): the reference's filter_by contract
    // (classifiers/base.py:66-228) over a deterministic linear model
    // whose predictions DuckDB replays exactly (hq ⇔ marker present;
    // the prob is the constant softmax of the marker+EOS hidden state)
    "quality_classifier" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(qcIn))
      graft.classify.QualityClassifier(
          modelPath = "src/main/resources/models/quality_tiny.bin",
          filterBy = Seq("__label__hq"))
        .apply(docs)
        .select(col("doc_id"), col("quality_pred"),
          round(col("quality_prob"), 4).as("quality_prob"))
    }),

    // FineWebEdu regression contract over the committed linear
    // artifact: marker counts pin the score exactly (bias 1.0 +
    // 1.5/high − 1.0/low; non-marker tokens weigh 0), exercising the
    // clip-at-5, the 2.5 threshold AND the round-half-EVEN int_score
    // (score 2.5 -> int 2, label high) — all SQL-replayable
    "fineweb_edu" -> ((s, dir) => {
      val hi = graft.classify.FineWebEdu.HighMarker
      val lo = graft.classify.FineWebEdu.LowMarker
      val in = tbl(s, dir, "documents").withColumn("text", expr(
        s"""CASE WHEN doc_id % 10 = 0 THEN concat(text, ' $hi $hi $hi')
                 WHEN doc_id % 10 = 1 THEN concat(text, ' $hi')
                 WHEN doc_id % 2 = 0 THEN concat(text, ' $hi $hi')
                 ELSE concat(text, ' $lo') END"""))
      graft.classify.FineWebEduClassifier(
          modelPath = "src/main/resources/models/fineweb_tiny.bin")
        .score(in)
        .select(col("doc_id"), col("preds"),
          round(col("float_score"), 4).as("float_score"), col("int_score"))
    }),

    // domain tagging with the reference docs' own filter_by example
    // (["Games","Sports"]); committed artifact carries the published
    // 26-domain taxonomy, marker i ⇒ label i with the constant prob
    // e^5/(e^5+25) = 0.8558 (see DomainClassifier.writeTinyArtifact)
    "domain_classifier" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(domainIn))
      graft.classify.DomainClassifier(
          modelPath = "src/main/resources/models/domain_tiny.bin",
          scoreField = Some("domain_prob"),
          filterBy = Seq("Games", "Sports"))
        .apply(docs)
        .select(col("doc_id"), col("domain_pred"),
          round(col("domain_prob"), 4).as("domain_prob"))
    }),

    // 11-class speech-type tagging (content_type.py contract,
    // max_chars 5000); constant prob e^5/(e^5+10) = 0.9369
    "content_type" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(contentIn))
      graft.classify.ContentTypeClassifier(
          modelPath = "src/main/resources/models/content_tiny.bin",
          scoreField = Some("content_prob"))
        .score(docs)
        .select(col("doc_id"), col("content_pred"),
          round(col("content_prob"), 4).as("content_prob"))
    }),

    // AEGIS safety contract: verbatim LlamaGuard prompt wrap -> LLM
    // seam -> reference response parsing -> label. The zero-egress
    // fixture LLM answers FROM THE WRAPPED MESSAGE (messageOf asserts
    // the byte-verbatim template around it on every row), and the
    // response set exercises all parse branches: safe, valid category,
    // unsafe-without-category -> unknown, free text -> unknown
    "aegis_classifier" -> ((s, dir) => {
      val fixtureGuard: String => String = { p =>
        val m = graft.classify.Aegis.messageOf(p)
        if (m.startsWith("aegisviolence")) "unsafe\nO1"
        else if (m.startsWith("aegiscaution")) "unsafe\nO13"
        else if (m.startsWith("aegisbare")) "unsafe"
        else if (m.startsWith("aegisramble")) "Well, it reads fine to me."
        else "safe"
      }
      val docs = tbl(s, dir, "documents").withColumn("text", expr(
        """CASE CAST(doc_id % 5 AS INT)
             WHEN 1 THEN 'aegisviolence ' || text
             WHEN 2 THEN 'aegiscaution ' || text
             WHEN 3 THEN 'aegisbare ' || text
             WHEN 4 THEN 'aegisramble ' || text
             ELSE text END"""))
      graft.classify.AegisClassifier(fixtureGuard)(docs)
        .select(col("doc_id"), col("aegis_pred"))
    }),

    // prompt task & complexity contract: 11 output fields from the
    // committed multi-head GPTC artifact over the committed word-vec
    // embeddings — top-2 task types (the equal-logit tail yields the
    // stable index order and prob 0.333; dominant-topic docs yield
    // 0.998 with the second label collapsing to NA), the seven
    // weighted-softmax dimensions (exactly one fires to 0.9954 per
    // doc via doc_id%5; no_label_reason/constraint_ct read dims the
    // construction never sets and stay 0.5), and the reference's
    // weighted complexity sum rounded half-even to 5dp
    "prompt_task_complexity" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(embArtIn))
      val emb = graft.sim.WordVecEmbedder.withEmbedding(spread(docs),
        modelPath = "src/main/resources/models/embed_tiny.bin", outCol = "embedding")
      graft.classify.PromptTaskComplexity.score(emb,
          "src/main/resources/models/ptc_tiny.bin")
        .select(col("doc_id"), col("prompt_complexity_score"), col("task_type_1"),
          col("task_type_2"), col("task_type_prob"), col("creativity_scope"),
          col("reasoning"), col("contextual_knowledge"), col("number_of_few_shots"),
          col("domain_knowledge"), col("no_label_reason"), col("constraint_ct"))
    }),

    // instruction-data-guard: sigmoid GLIN head (the committed
    // parity head doubles as the guard artifact — the slot is
    // model-agnostic) over the committed word-vec embeddings;
    // is_poisoned = score >= 0.5, so the EXACT mixed-parity 0.5 case
    // lands poisoned (>=, unlike the NSFW filter's strict <)
    "instruction_data_guard" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("text", expr(embArtIn))
      val emb = graft.sim.WordVecEmbedder.withEmbedding(spread(docs),
        modelPath = "src/main/resources/models/embed_tiny.bin", outCol = "embedding")
      graft.classify.InstructionDataGuard("src/main/resources/models/nsfw_tiny.bin")
        .score(emb)
        .select(col("doc_id"),
          round(col("instruction_data_guard_poisoning_score"), 4)
            .as("instruction_data_guard_poisoning_score"),
          col("is_poisoned"))
    }),

    "ft_langid" -> ((s, dir) => {
      // hashed char-ngram linear model trained on the table's own
      // (lang, text) pairs; fastText-LangId contract output
      // (filters/fasttext_filter.py:58-92). ORACLE-GATED: the input
      // construction plants a per-lang marker (ftLangIn) so lang IS
      // learnable, and the model trained on the even half must
      // recover the planted lang for EVERY row — the oracle
      // recomputes upper(lang) directly. (The probability column is
      // model-internal and stays out of the compared output.)
      val docs = tbl(s, dir, "documents").withColumn("text", expr(ftLangIn))
      // CLASS-BALANCED training sample (first m docs per lang, m = the
      // smallest class): multinomial-NB smoothing over unbalanced
      // class totals drifts every shared text n-gram ~log((T1/(T1+B))·
      // ((T2+B)/T2)) toward the majority class — ~0.28/token here,
      // which over ~900 text n-grams per doc would swamp the marker
      // margin. Equal totals zero the bias exactly.
      val raw = docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang", "text").orderBy("doc_id").limit(TrainCap)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      // degenerate input (empty table / no even doc_ids) → empty
      // result, not an UnsupportedOperationException from .min
      if (raw.isEmpty) {
        docs.limit(0).select(col("doc_id"), col("lang").as("lang_pred"))
      } else {
        val perClass = raw.groupBy(_._1).values.map(_.size).min
        val train = raw.groupBy(_._1).values.flatMap(_.take(perClass)).toSeq
        val model = graft.langid.CharNgramLangId.train(train, buckets = 1 << 14)
        graft.langid.FastTextFilters.withLangId(docs, model)
          .select(col("doc_id"), col("langid.lang").as("lang_pred"))
      }
    }),

    "ft_quality" -> ((s, dir) => {
      // stochastic Pareto keep (deterministic per-row sampling),
      // emitted as a Pareto-CONSISTENCY gate (oracle-green): both keep
      // classes are non-empty and the kept class carries the higher
      // mean model score. The input plants a LEARNABLE class marker
      // (even docs get a hq token), so the trained scores separate and
      // the gate tests the keep rule pareto(text) > 1-score rather
      // than coin flips over a constant score. The per-doc keep set
      // itself depends on model scores (not SQL-expressible);
      // exact-mechanism coverage is in NewOpsSpec.
      val docs = tbl(s, dir, "documents").withColumn("text", expr(ftQualityIn))
      val train = docs.filter(col("doc_id") % 7 === 0)
        .select("doc_id", "text").orderBy("doc_id").limit(TrainCap)
        .collect()
        .map(r => (if (r.getLong(0) % 2 == 0) "hq" else "lq", r.getString(1))).toSeq
      val model = graft.langid.CharNgramLangId.train(train, buckets = 1 << 14)
      graft.langid.FastTextFilters.withQuality(docs, model)
        .agg(
          count(lit(1)).as("docs"),
          (count(when(col("fasttext_keep"), 1)) between(1, count(lit(1)) - 1)).as("both_classes"),
          (avg(when(col("fasttext_keep"), col("fasttext_quality"))) >
            avg(when(!col("fasttext_keep"), col("fasttext_quality")))).as("kept_scores_higher"))
    }),

    // ================= semantic dedup / IVF ANN =================
    // ranked (which_to_keep="hard") removal — the reference's own
    // semantics (remove docs with a preceding-in-cluster-order near
    // neighbour; pairwise.py:275-299) — emitted as a per-id gate the
    // DuckDB oracle recomputes exactly: has_neighbor (∃ other doc with
    // cosine ≥ 1-eps, exact all-pairs in both engines) and removed_ok
    // (removal ⇒ such a neighbor exists; isolated ids are never
    // removed). The removal SET depends on kmeans cells (not
    // SQL-expressible); the pair-level path is oracle-green via
    // emb_neardup / emb_text_neardup.
    "semantic_dedup_ids" -> ((s, dir) => {
      // decade-blocked exact recompute (the sketch entries' BASELINE.md
      // pattern — no all-pairs join anywhere): 4-hot prime-indexed
      // class vectors (dims class mod {53,59,61,67}) put cross-class
      // cosine at ≤ 3/4 while planted classmates (10k, 10k+1) are
      // identical, so the ≥ 0.9 neighbor relation is exactly the
      // intra-decade partner pair and the exact has_neighbor join can
      // block on vec_id/10 — linear at every sf. removalIdsRanked runs
      // the REAL operator at eps=0.1 (threshold 0.9); removed_ok gates
      // the invariant removed ⇒ has_neighbor.
      val emb = tbl(s, dir, "embeddings").select(col("vec_id"))
        .withColumn("_class",
          when(col("vec_id") % 10 === 1, col("vec_id") - 1).otherwise(col("vec_id")))
        .withColumn("embedding", expr(
          """transform(sequence(0, 239), i ->
               CASE WHEN i = CAST(_class % 53 AS INT)
                      OR i = 53 + CAST(_class % 59 AS INT)
                      OR i = 112 + CAST(_class % 61 AS INT)
                      OR i = 173 + CAST(_class % 67 AS INT)
                    THEN CAST(0.5 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END)"""))
        .select("vec_id", "embedding")
      val removed = graft.dedup.SemanticDedup.removalIdsRanked(
          emb, k = 8, eps = 0.1, whichToKeep = "hard")
        .withColumn("_removed", lit(true))
      val blocked = emb.select((col("vec_id") / 10).cast("long").as("_blk"),
        col("vec_id"), col("embedding"))
      val hasNbr = blocked
        .join(blocked.select(col("_blk"), col("vec_id").as("_oid"),
          col("embedding").as("_ovec")), Seq("_blk"))
        .filter(col("vec_id") =!= col("_oid"))
        .filter(Knn.cosineCol(col("embedding"), col("_ovec")) >= 0.9)
        .select("vec_id").distinct().withColumn("_has", lit(true))
      emb.select("vec_id")
        .join(removed, Seq("vec_id"), "left")
        .join(hasNbr, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("_has"), lit(false)).as("has_neighbor"),
          (!coalesce(col("_removed"), lit(false)) ||
            coalesce(col("_has"), lit(false))).as("removed_ok"))
    }),

    "ivf_topk" -> ((s, dir) => {
      // per-query recall GATE vs exact brute-force top-5 (see knn_lsh);
      // IVF at cells=8/nProbe=3 over unclustered gaussians: observed min
      // per-query recall 0.4 at seed 42 — gate at 0.3
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 100 === 0)
      val brute = Knn.bruteForceTopK(emb, q, k = 5).select("query_id", "neighbor_id")
      val approx = graft.sim.Knn.ivfTopK(emb, q, k = 5, cells = 8, nProbe = 3)
        .select("query_id", "neighbor_id")
      val hits = brute.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      // mean recall gate (see knn_lsh — fixed per-query floors are
      // scale-pinned); IVF over unclustered gaussians gates at 0.3
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), (coalesce(col("hits"), lit(0)) / 5.0).as("recall"))
        .agg(count(lit(1)).as("queries"),
          (avg(col("recall")) >= 0.3).as("mean_recall_ok"),
          (min(col("recall")) > 0.0).as("every_query_hits"))
    }),

    // ================= acquisition-source extractors =================
    // arXiv LaTeX cleaning over constructed input: preamble comment +
    // \def macro + \section header + body with \gm macro uses +
    // \appendix tail. The expected output is exactly SQL-expressible
    // (section header survives, comments/preamble/tail drop, macro
    // inline-expands). Input built with Scala literals — backslashes
    // never pass through the SQL parser on the Spark side.
    "arxiv_extract" -> ((s, dir) => {
      val content = concat(
        lit("% top comment\njunk preamble\n\\def\\gm{quality}\n\\section{Intro}\n"),
        replace(col("text"), lit(" data "), lit(" \\gm ")),
        lit("\n\\appendix\ntrailing"))
      graft.sources.ArxivSource.extractColumns(
          spread(tbl(s, dir, "documents")).select(col("doc_id"), array(content).as("content")))
        .select(col("doc_id"), col("text"))
    }),

    // wikitext-lite cleaning over constructed input: infobox template,
    // heading, wikilinked body words, a category link, a ref tag — the
    // cleaned text is the original body with the known frame
    "wiki_extract" -> ((s, dir) => {
      val raw = concat(
        lit("{{Infobox|a=1}}\n== Intro ==\n"),
        replace(col("text"), lit(" the "), lit(" [[the]] ")),
        lit("\n[[Category:Docs]]<ref>x</ref>"))
      graft.sources.WikipediaSource.extractColumns(
          spread(tbl(s, dir, "documents")).select(col("doc_id"), raw.as("raw_content")))
        .select(col("doc_id"), col("text"))
    }),

    // ================= synthetic-data stages =================
    // prompt-building side of the Nemotron-CC generation stages: the
    // injected llm ECHOES the prompt, so the output column is exactly
    // the reference template with {document} substituted — the part a
    // deployment must get byte-right before any model sees it
    "synth_prompt" -> ((s, dir) => {
      val echo: (Option[String], String) => String = (_, p) => p
      graft.synth.NemotronCC.generate(
          tbl(s, dir, "documents").select("doc_id", "text"),
          graft.synth.NemotronCC.WikipediaRephrase, echo)
        .select(col("doc_id"), col("rephrased").as("prompt"))
    }),

    // DiverseQA post-processing over a constructed single-pair model
    // output (prefix line + one bulleted Question/Answer + a
    // continuation line): with one pair the reference's shuffle/sample
    // is the identity, so the full merge+concat path has an exact
    // string oracle
    // variable segments are BRACKETED so a degenerate doc (empty or
    // one-word text -> regexp_extract = '') can never leave a
    // trailing space for the post-processor's strip to eat while the
    // oracle's plain concat keeps it; text coalesces to '' both sides
    "synth_diverse_qa" -> ((s, dir) => {
      val in = tbl(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("diverse_qa", expr(
          """concat('Here are the questions and answers based on the provided text:',
             '\n- Question: What is the first word? Answer: [',
             regexp_extract(text, '^(\\S+)', 1), ']\nIt appears at the start.')"""))
      graft.synth.NemotronCC.withDiverseQAPostProcessed(in)
        .select(col("doc_id"), col("diverse_qa"))
    }),

    // KnowledgeList post-processing over a constructed model output:
    // non-bullet header (drops), "- " bullet and two-space indent
    // (strip), raw tail line (kept) — deterministic per doc
    "synth_knowledge_list" -> ((s, dir) => {
      val in = tbl(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("knowledge_list", expr(
          """concat('Key facts extracted:',
             '\n- first word is [', regexp_extract(text, '^(\\S+)', 1),
             ']\n  second word is [', regexp_extract(text, '^\\S+ (\\S+)', 1),
             ']\nraw tail line')"""))
      graft.synth.NemotronCC.withKnowledgeListPostProcessed(in)
        .select(col("doc_id"), col("knowledge_list"))
    }),

    // ================= audio-pipeline stages =================
    // WER/CER over constructed ASR "predictions" with known edit
    // distances (first word substituted -> word distance 1; one char
    // appended -> char distance 1), so the reference formulas
    // round(dist/len*100, 2) are exact SQL — round_even replicates
    // Python's half-even (a 32-word doc hits 3.125 -> 3.12)
    "audio_wer" -> ((s, dir) => {
      val in = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("pred_text", expr("regexp_replace(text, '^\\\\S+', 'zsubz')"))
        .withColumn("pred_cer", expr("concat(text, 'Z')"))
      val withCer = graft.audio.AudioMetrics.withCer(
        graft.audio.AudioMetrics.withWer(in), predCol = "pred_cer")
      withCer.select(col("doc_id"), col("wer"), col("cer"))
    }),

    // WAV duration + char/word rates over generated PCM WAV payloads:
    // samples derive from doc_id, so duration (frames/rate) and the
    // rates are exact FP both sides
    "audio_duration" -> ((s, dir) => {
      val wavU = udf((id: Long) =>
        graft.audio.WavIO.buildPcmWav(8000 + (id % 100).toInt * 160, 16000))
      val in = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("audio", wavU(col("doc_id")))
      graft.audio.AudioMetrics.withRates(
          graft.audio.AudioStages.withDuration(in))
        .select(col("doc_id"), round(col("duration"), 6).as("duration"),
          col("charrate"), col("wordrate"))
    }),

    // ================= unicode clean / warc / rechunk / salting =================
    "mod_unicode_clean" -> ((s, dir) => {
      val u = udf((t: String) => graft.scrub.UnicodeClean.clean(t))
      tbl(s, dir, "documents")
        .withColumn("_in", expr("replace(text, 'spark', concat('caf', char(195), char(169), ' x'))"))
        .select(col("doc_id"), u(col("_in")).as("cleaned"))
    }),

    "warc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      tbl(s, dir, "documents").select("doc_id", "text")
        .as[(Long, String)]
        .map { case (id, text) =>
          val warc = graft.sources.WarcParser.buildWarc(
            Seq((s"http://w/$id", text.getBytes("UTF-8"))))
          val rec = graft.sources.WarcParser.responses(warc).head
          (id, rec.url, new String(rec.content, "UTF-8"))
        }
        .toDF("doc_id", "url", "content")
    }),

    "split_rechunk" -> ((s, dir) => {
      // split -> joinMaxLength(64) -> reassemble; content-preserving
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val split = graft.pipeline.Stages.split(" ")(docs)
      val chunked = graft.pipeline.Stages.joinMaxLength(" ", 64)(split)
      chunked.groupBy("doc_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("text").as("t")))),
            x => x.getField("t")), " ").as("reassembled"))
    }),

    "salted_count" -> ((s, dir) =>
      graft.pipeline.Salting.saltedCount(
        tbl(s, dir, "documents"), "lang", "doc_id", saltBuckets = 8)),

    "q8_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.sessionizeBatch(tbl(s, dir, "events"), gapMinutes = 30))
  )

  // ---------- DuckDB oracles ----------
  private def hfRatioOracle(scoreExpr: String, keepExpr: String, inExpr: String = "text"): String =
    s"SELECT doc_id, round($scoreExpr, 6) AS score, $keepExpr AS keep FROM " +
      s"(SELECT doc_id, $inExpr AS t FROM documents)"

  /** OR-disjunction over the reference policy substrings (lowercased
    * containment, constants.py:19-57) for the boilerplate oracle.
    */
  private def policyContains(x: String): String =
    graft.text.Constants.policySubstrings
      .map(p => s"contains(lower($x), '${p.replace("'", "''")}')").mkString("(", " OR ", ")")

  /** RepeatingTopNGrams(2) oracle. Winner = the bigram that FIRST reaches
    * the final maximum count in window order (the Scala strictly-greater
    * update), i.e. among max-count bigrams the one whose LAST occurrence
    * is earliest; score = chars its non-overlapping occurrences cover in
    * the original text / nchar.
    */
  private def topNgramOracle: String = {
    val ws = duckWords("text")
    s"""WITH base AS (SELECT doc_id, text AS t, $ws AS ws FROM documents),
        g AS (SELECT doc_id,
                unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gram,
                unnest(range(1, greatest(len(ws), 1))) AS pos
              FROM base WHERE len(ws) >= 2),
        cnt AS (SELECT doc_id, gram, count(*) AS c, max(pos) AS lastpos FROM g GROUP BY 1, 2),
        best AS (SELECT doc_id, gram,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lastpos ASC) AS rk
                 FROM cnt)
        SELECT doc_id, round(score, 6) AS score, score <= 0.2 AS keep FROM (
          SELECT b.doc_id,
                 CASE WHEN w.gram IS NULL THEN 1.0
                      ELSE CAST(length(b.t) - length(replace(b.t, w.gram, '')) AS DOUBLE) / length(b.t) END AS score
          FROM base b LEFT JOIN (SELECT doc_id, gram FROM best WHERE rk = 1) w USING (doc_id))"""
  }

  /** RepeatingDuplicateNGrams(5) oracle. The Scala overlap-adjusted
    * accumulator equals: union the word positions of all repeat-occurrence
    * 5-gram windows, grouping windows into islands when consecutive dup
    * windows start < 5 apart; each island [f..l] covers words f..l+4 and
    * (covered words - 1) single spaces.
    */
  private def dupNgramOracle: String = {
    val ws = duckWords("t")
    s"""WITH base AS (SELECT doc_id, $dupNgramIn AS t FROM documents),
        wsb AS (SELECT doc_id, t, $ws AS ws FROM base),
        g AS (SELECT doc_id,
                unnest(list_transform(range(1, len(ws) - 3),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram,
                unnest(range(1, greatest(len(ws) - 3, 1))) AS pos
              FROM wsb WHERE len(ws) >= 5),
        dup AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS occ
                  FROM g) WHERE occ > 1),
        isl AS (SELECT doc_id, pos,
                  sum(CASE WHEN prev IS NULL OR pos - prev >= 5 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM (SELECT doc_id, pos,
                        lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dup)),
        spans AS (SELECT doc_id, island, min(pos) AS f, max(pos) AS l FROM isl GROUP BY 1, 2),
        dupn AS (SELECT s.doc_id,
                   sum(list_aggregate(list_transform(w.ws[s.f:s.l+4], x -> length(x)), 'sum')
                       + (s.l - s.f + 4)) AS chars
                 FROM spans s JOIN wsb w USING (doc_id) GROUP BY 1)
        SELECT doc_id, round(score, 6) AS score, score <= 0.15 AS keep FROM (
          SELECT w.doc_id,
                 CASE WHEN len(w.ws) < 5 THEN 1.0
                      ELSE CAST(coalesce(d.chars, 0) AS DOUBLE) / length(w.t) END AS score
          FROM wsb w LEFT JOIN dupn d USING (doc_id))"""
  }

  def oracleSql: Map[String, String] = {
    val words = duckWords("t")
    val nw = s"len($words)"
    val lines = s"list_filter(regexp_split_to_array(t, chr(10)), x -> regexp_matches(x, '\\S'))"
    val paras = s"regexp_split_to_array(t, chr(10) || chr(10))"
    val ell = "'...','[...]','…','(...)','[…]','-»'"

    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
           round(sum(l_extendedprice),2) AS sum_price, round(avg(l_discount),6) AS avg_disc,
           count(*) AS cnt FROM lineitem GROUP BY 1,2""",

      "q2_join" ->
        """SELECT n_name, count(*) AS order_cnt, round(sum(o_totalprice),2) AS total
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""",

      "q3_topk" ->
        """SELECT o_orderkey, o_totalprice, rn FROM (
             SELECT o_orderkey, o_totalprice,
                    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) WHERE rn <= 10""",

      "q4_window" ->
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
             SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) WHERE rn = 1""",

      "q5_antijoin" ->
        """SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)""",

      "q6_events_window" ->
        """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
           round(sum(value),2) AS total_value FROM events GROUP BY 1,2""",

      "q7_split_join" ->
        "SELECT doc_id, text AS rejoined FROM documents",

      "hf_word_count" -> hfRatioOracle(
        s"CAST($nw AS DOUBLE)", s"$nw BETWEEN 50 AND 100000"),

      "hf_nonalpha" -> hfRatioOracle(
        s"CAST(length(t) - length(regexp_replace(t, '[^a-zA-Z0-9\\n?!,.]', '', 'g')) AS DOUBLE) / length(t)",
        s"CAST(length(t) - length(regexp_replace(t, '[^a-zA-Z0-9\\n?!,.]', '', 'g')) AS DOUBLE) / length(t) <= 0.25"),

      "hf_numbers" -> hfRatioOracle(
        "CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS DOUBLE) / length(t)",
        "CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS DOUBLE) / length(t) <= 0.15",
        numIn),

      "hf_whitespace" -> hfRatioOracle(
        "CAST(length(t) - length(regexp_replace(t, '[\\t\\n\\r\\x08 ]', '', 'g')) AS DOUBLE) / length(t)",
        "CAST(length(t) - length(regexp_replace(t, '[\\t\\n\\r\\x08 ]', '', 'g')) AS DOUBLE) / length(t) <= 0.25"),

      "hf_parentheses" -> hfRatioOracle(
        "CAST(length(t) - length(regexp_replace(t, '[{}⟨⟩\\[\\]()]', '', 'g')) AS DOUBLE) / length(t)",
        "CAST(length(t) - length(regexp_replace(t, '[{}⟨⟩\\[\\]()]', '', 'g')) AS DOUBLE) / length(t) <= 0.1",
        "replace(text, 'part', '(part)')"),

      "hf_urls" -> hfRatioOracle(
        s"CAST(coalesce(list_aggregate(list_transform(regexp_extract_all(t, $urlReDuck), x -> length(x)), 'sum'), 0) AS DOUBLE) / length(t)",
        s"CAST(coalesce(list_aggregate(list_transform(regexp_extract_all(t, $urlReDuck), x -> length(x)), 'sum'), 0) AS DOUBLE) / length(t) <= 0.2",
        urlIn),

      "hf_mean_word_length" -> hfRatioOracle(
        s"CAST(list_aggregate(list_transform($words, w -> length(w)), 'sum') AS DOUBLE) / $nw",
        s"CAST(list_aggregate(list_transform($words, w -> length(w)), 'sum') AS DOUBLE) / $nw BETWEEN 3 AND 10"),

      "hf_long_word" -> hfRatioOracle(
        s"CAST(list_aggregate(list_transform($words, w -> length(w)), 'max') AS DOUBLE)",
        s"list_aggregate(list_transform($words, w -> length(w)), 'max') <= 1000",
        longIn),

      "hf_common_english" -> hfRatioOracle(
        s"CAST(least(len(list_filter($words, w -> w IN ('the','be','to','of','and','that','have','with'))), 2) AS DOUBLE)",
        s"len(list_filter($words, w -> w IN ('the','be','to','of','and','that','have','with'))) >= 2"),

      "hf_symbols_to_words" -> hfRatioOracle(
        s"CAST(len(list_filter($words, w -> CAST(len(regexp_extract_all(w, '#+')) AS DOUBLE) / length(w) > 0.5 OR w IN ($ell,'read more..','read more'))) AS DOUBLE) / $nw",
        s"CAST(len(list_filter($words, w -> CAST(len(regexp_extract_all(w, '#+')) AS DOUBLE) / length(w) > 0.5 OR w IN ($ell,'read more..','read more'))) AS DOUBLE) / $nw <= 0.1",
        symIn),

      "hf_repeated_lines" -> hfRatioOracle(
        s"CAST(len(list_distinct($lines)) AS DOUBLE) / len($lines)",
        s"CAST(len(list_distinct($lines)) AS DOUBLE) / len($lines) >= 0.7",
        linesIn(duckCh)),

      "hf_repeated_paragraphs" -> hfRatioOracle(
        s"CAST(len(list_distinct($paras)) AS DOUBLE) / len($paras)",
        s"CAST(len(list_distinct($paras)) AS DOUBLE) / len($paras) >= 0.7",
        parasIn(duckCh)),

      "hf_punctuation" -> hfRatioOracle(
        s"CAST(len(list_filter($lines, x -> NOT regexp_matches(trim(x, ' ' || chr(9) || chr(13)), '[.?!\"'']$$'))) AS DOUBLE) / len($lines)",
        s"CAST(len(list_filter($lines, x -> NOT regexp_matches(trim(x, ' ' || chr(9) || chr(13)), '[.?!\"'']$$'))) AS DOUBLE) / len($lines) <= 0.85",
        punctIn(duckCh)),

      "hf_ellipsis" -> hfRatioOracle(
        s"CAST(len(list_filter($lines, x -> list_aggregate(list_transform([$ell,'read more..','read more'], m -> ends_with(lower(trim(x, ' ' || chr(9) || chr(13))), m)), 'max'))) AS DOUBLE) / len($lines)",
        s"CAST(len(list_filter($lines, x -> list_aggregate(list_transform([$ell,'read more..','read more'], m -> ends_with(lower(trim(x, ' ' || chr(9) || chr(13))), m)), 'max'))) AS DOUBLE) / len($lines) <= 0.3",
        ellipsisIn(duckCh)),

      "hf_bullets" -> hfRatioOracle(
        s"CAST(len(list_filter($lines, x -> starts_with(trim(x, ' ' || chr(9) || chr(13)), '•'))) AS DOUBLE) / len($lines)",
        s"CAST(len(list_filter($lines, x -> starts_with(trim(x, ' ' || chr(9) || chr(13)), '•'))) AS DOUBLE) / len($lines) <= 0.9",
        bulletsIn(duckCh)),

      "hf_words_without_alphabets" -> hfRatioOracle(
        s"CAST(len(list_filter($words, w -> regexp_matches(w, '[[:alpha:]]'))) AS DOUBLE) / $nw",
        s"CAST(len(list_filter($words, w -> regexp_matches(w, '[[:alpha:]]'))) AS DOUBLE) / $nw >= 0.8",
        numIn),

      "hf_histogram" -> hfRatioOracle(
        "CASE WHEN CAST(length(regexp_replace(trim(t, ' ' || chr(9) || chr(10) || chr(13)), '[^a-zA-Z .]', '', 'g')) AS DOUBLE) / length(t) > 0.8 THEN 1.0 ELSE 0.0 END",
        "CAST(length(regexp_replace(trim(t, ' ' || chr(9) || chr(10) || chr(13)), '[^a-zA-Z .]', '', 'g')) AS DOUBLE) / length(t) > 0.8"),

      "hf_boilerplate" -> hfRatioOracle(
        s"CASE WHEN len(list_filter($paras, x -> contains(lower(x), 'lorem ipsum'))) > 0 THEN 1.0 " +
          s"ELSE CAST(len(list_filter($paras, x -> ${policyContains("x")})) AS DOUBLE) / len($paras) END",
        s"CASE WHEN len(list_filter($paras, x -> contains(lower(x), 'lorem ipsum'))) > 0 THEN 1.0 " +
          s"ELSE CAST(len(list_filter($paras, x -> ${policyContains("x")})) AS DOUBLE) / len($paras) END <= 0.4",
        boilIn(duckCh)),

      "hf_repeated_lines_char" -> hfRatioOracle(
        s"CAST(list_aggregate(list_transform(list_distinct($lines), x -> length(x)), 'sum') AS DOUBLE) / " +
          s"list_aggregate(list_transform($lines, x -> length(x)), 'sum')",
        s"CAST(list_aggregate(list_transform(list_distinct($lines), x -> length(x)), 'sum') AS DOUBLE) / " +
          s"list_aggregate(list_transform($lines, x -> length(x)), 'sum') >= 0.8",
        linesDupIn(duckCh)),

      "hf_repeated_paragraphs_char" -> hfRatioOracle(
        s"CAST(list_aggregate(list_transform(list_distinct($paras), x -> length(x)), 'sum') AS DOUBLE) / " +
          s"list_aggregate(list_transform($paras, x -> length(x)), 'sum')",
        s"CAST(list_aggregate(list_transform(list_distinct($paras), x -> length(x)), 'sum') AS DOUBLE) / " +
          s"list_aggregate(list_transform($paras, x -> length(x)), 'sum') >= 0.8",
        parasDupIn(duckCh)),

      "hf_top_ngrams" -> topNgramOracle,

      "hf_dup_ngrams" -> dupNgramOracle,

      "hf_porn_urls" -> hfRatioOracle(
        s"CASE WHEN len(list_filter(regexp_extract_all(t, $urlReDuck), u -> contains(u, 'porn'))) > 0 THEN 1.0 ELSE 0.0 END",
        s"len(list_filter(regexp_extract_all(t, $urlReDuck), u -> contains(u, 'porn'))) = 0",
        pornIn),

      "hf_substring" -> hfRatioOracle(
        "CASE WHEN starts_with(t, 'PREFIX:') THEN 1.0 ELSE 0.0 END",
        "starts_with(t, 'PREFIX:')",
        substrIn),

      "cascade_en" ->
        // oracle table = labels generated by RUNNING THE REFERENCE'S OWN
        // heuristic_filter.py over the same constructed texts across the
        // shared testdata scales, keyed by md5(constructed)
        // (tools/gen_reference_labels.py; committed parquet) — keep AND
        // first-reject attribution must match the reference bit-exactly
        // at whichever sf dir the driver verifies
        s"""SELECT d.doc_id, l.keep, l.first_reject
           FROM (SELECT doc_id, $cascadeIn AS t FROM documents) d
           JOIN '/root/repo/src/test/resources/labels_ref_by_md5.parquet' l
             ON md5(d.t) = l.text_md5""",

      // YAML-config-driven cascade must match the same reference labels
      "config_cascade_en" ->
        s"""SELECT d.doc_id, l.keep, l.first_reject
           FROM (SELECT doc_id, $cascadeIn AS t FROM documents) d
           JOIN '/root/repo/src/test/resources/labels_ref_by_md5.parquet' l
             ON md5(d.t) = l.text_md5""",

      "cascade_non_en" ->
        s"""SELECT d.doc_id, l.keep, l.first_reject
           FROM (SELECT doc_id, $cascadeIn AS t FROM documents) d
           JOIN '/root/repo/src/test/resources/labels_ref_non_en_by_md5.parquet' l
             ON md5(d.t) = l.text_md5""",

      "cf_alpha" -> hfRatioOracle(
        "CAST(length(regexp_replace(t, '[^[:alpha:]]', '', 'g')) AS DOUBLE) / length(t)",
        "CAST(length(regexp_replace(t, '[^[:alpha:]]', '', 'g')) AS DOUBLE) / length(t) >= 0.25",
        numIn),

      "cf_num_lines" -> hfRatioOracle(
        s"CAST(length(t) - length(replace(t, chr(10), '')) + 1 AS DOUBLE)",
        s"length(t) - length(replace(t, chr(10), '')) + 1 BETWEEN 2 AND 100",
        linesIn(duckCh)),

      "cf_xml_header" -> hfRatioOracle(
        "CASE WHEN contains(t[1:100], '<?xml version=') THEN 1.0 ELSE 0.0 END",
        "NOT contains(t[1:100], '<?xml version=')",
        "CASE WHEN doc_id % 5 = 0 THEN '<?xml version=\"1.0\"?>' || text ELSE text END"),

      "ta_fingerprint" ->
        // the modular fold yields a DuckDB HUGEINT; the final CAST makes
        // the column BIGINT so the driver's value-hash sees the same type
        // Spark emits (values are identical either way)
        """SELECT doc_id,
             CAST(((list_reduce(list_prepend(0::HUGEINT, [ord(c)::HUGEINT for c in split(text, '')]),
                           (h, c) -> (h * 257 + c) % 18446744073709551616::HUGEINT)
               + 9223372036854775808) % 18446744073709551616) - 9223372036854775808 AS BIGINT) AS fp64
           FROM documents""",

      "scrub_pii" ->
        s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace($piiInDuck,
            '${PiiScrub.emailPattern}', '{EMAIL}', 'g'),
            '${PiiScrub.ipv4Pattern}', '{IP}', 'g'),
            '${PiiScrub.phonePattern}', '{PHONE}', 'g') AS scrubbed
           FROM documents""",

      "scrub_profanity" ->
        """SELECT doc_id,
             regexp_replace(replace(text, 'dup', 'xxx'), '(?i)\b(?:fuck|shit|bitch|asshole|bastard|cunt|dick|slut|whore|nigger|faggot|porn|xxx)\b', '{PROFANITY}', 'g') AS scrubbed,
             round(CAST(len(list_filter(regexp_split_to_array(regexp_replace(replace(text, 'dup', 'xxx'), '^\s+|\s+$', '', 'g'), '\s+'), w -> regexp_matches(w, '(?i)\b(?:fuck|shit|bitch|asshole|bastard|cunt|dick|slut|whore|nigger|faggot|porn|xxx)\b'))) AS DOUBLE) / len(regexp_split_to_array(regexp_replace(replace(text, 'dup', 'xxx'), '^\s+|\s+$', '', 'g'), '\s+')), 6) AS toxicity
           FROM documents""",

      "mod_url_remove" ->
        s"SELECT doc_id, regexp_replace($urlIn, 'https?://\\S+|www\\.\\S+', '', 'gi') AS cleaned FROM documents",

      "mod_newline_norm" ->
        s"SELECT doc_id, regexp_replace(regexp_replace(${nlIn(duckCh)}, '(\\n){3,}', chr(10) || chr(10), 'g'), '(\\r\\n){3,}', chr(13) || chr(10) || chr(13) || chr(10), 'g') AS normalized FROM documents",

      "mod_markdown_remove" ->
        s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace($mdIn,
            '\\*\\*(.*?)\\*\\*', '\\1', 'g'), '\\*(.*?)\\*', '\\1', 'g'),
            '_(.*?)_', '\\1', 'g'), '\\[.*?\\]\\((.*?)\\)', '\\1', 'g') AS cleaned FROM documents""",

      "mod_quotation" -> {
        val nl = duckCh("10")
        s"""SELECT doc_id,
              CASE WHEN doc_id % 4 = 0 THEN 'Q' || text
                   WHEN doc_id % 4 = 1 THEN 'M' || text || $nl || 'tail'
                   WHEN doc_id % 4 = 2 THEN '"X"' || $nl || text || '"'
                   ELSE text END AS cleaned
            FROM documents"""
      },

      "mod_slicer" ->
        "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text ELSE '' END AS sliced FROM documents",

      "mod_line_remove" ->
        s"SELECT doc_id, array_to_string(list_filter(string_split(${lineRemIn(duckCh)}, chr(10)), x -> x != 'REMOVE'), chr(10)) AS cleaned FROM documents",

      "mod_fasttext_label" ->
        s"SELECT doc_id, '__label__hq ' || replace(${nlIn(duckCh)}, chr(10), ' ') AS labeled FROM documents",

      "mod_boilerplate" -> {
        val nn = s"${duckCh("10")} || ${duckCh("10")}"
        s"""SELECT doc_id,
              CASE WHEN doc_id % 4 = 0 THEN text
                   WHEN doc_id % 4 = 1 THEN text
                   WHEN doc_id % 4 = 2 THEN ''
                   ELSE text || $nn || 'We use cookies here.' || $nn || text END AS cleaned
            FROM documents"""
      },

      "extract_html" -> extractHtmlOracle,

      "justext_extract" -> {
        val nn = s"${duckCh("10")} || ${duckCh("10")}"
        s"""SELECT doc_id,
              CASE WHEN doc_id % 2 = 0
                   THEN tri || $nn || 'tiny note and more' || $nn || tri
                   ELSE NULL END AS extracted
            FROM (SELECT doc_id, enr || ' and ' || enr || ' and ' || enr AS tri
                  FROM (SELECT doc_id, replace(text, ' ', ' the ') AS enr FROM documents))"""
      },

      "cf_fertility" -> hfRatioOracle(
        s"CAST(length(t) AS DOUBLE) / len(regexp_extract_all(t, '${graft.analysis.TextStats.bpePattern.replace("'", "''")}'))",
        s"CAST(length(t) AS DOUBLE) / len(regexp_extract_all(t, '${graft.analysis.TextStats.bpePattern.replace("'", "''")}')) >= 2.5",
        "CASE WHEN doc_id % 5 = 0 THEN repeat('. ', 800) || text ELSE text END"),

      "megatron_roundtrip" -> {
        val words = duckWords("text")
        s"SELECT CAST(count(*) AS BIGINT) AS docs, CAST(sum(len($words)) AS BIGINT) AS total_tokens FROM documents"
      },

      "ta_token_count" ->
        s"""SELECT doc_id, len(${duckWords("text")}) AS ws_tokens,
            len(regexp_extract_all(text, '${TextStats.bpePattern.replace("'", "''")}')) AS bpe_tokens
           FROM documents""",

      "ta_langid" -> taLangidOracle,

      "ta_quality" -> taQualityOracle,

      "dedup_exact_ids" ->
        s"""SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
             FROM (SELECT doc_id, $exactDupIn AS t FROM documents)) WHERE rn > 1""",

      "dedup_exact_kept" ->
        s"""SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
             FROM (SELECT doc_id, $exactDupIn AS t FROM documents)) WHERE rn = 1""",

      // closed-form removal sets of the incremental constructions (see
      // incDupIn / exactIncIn): linear predicates, no O(n^2) recompute
      "dedup_incremental_ids" ->
        "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 IN (3, 7, 9)",

      // recomputes the semantics (indexed-hash hit OR intra-batch
      // keep-first loser) — robust to natural duplicate texts in the
      // raw corpus, which exist from sf0.1 up
      "dedup_incremental_exact" ->
        s"""WITH h AS (
              SELECT doc_id, md5(t) AS hh
              FROM (SELECT doc_id, $exactIncIn AS t FROM documents)),
            b AS (
              SELECT doc_id, hh,
                     row_number() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
              FROM h WHERE doc_id % 2 = 1)
            SELECT doc_id FROM b
            WHERE rn > 1 OR hh IN (SELECT hh FROM h WHERE doc_id % 2 = 0)""",

      "knn_lsh" ->
        """SELECT count(*) AS queries, true AS mean_recall_ok, true AS every_query_hits
           FROM embeddings WHERE vec_id % 50 = 0""",

      // trained-model gates: the model output itself is not
      // SQL-expressible; the asserted PROPERTY is (knn_lsh pattern) —
      // with has_neighbor recomputed exactly by DuckDB
      "lm_perplexity" ->
        "SELECT doc_id, true AS ppl_ok FROM documents",

      // the tiny artifact's only vocab rows are EOS + the marker, so
      // the hidden state (hence the softmax prob) is one constant for
      // marker docs: softmax((10-0.1)/2 · ±1) = 0.999949… -> 0.9999
      "quality_classifier" ->
        """SELECT doc_id, '__label__hq' AS quality_pred, 0.9999 AS quality_prob
           FROM documents WHERE doc_id % 2 = 0""",

      "fineweb_edu" ->
        """SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0 THEN 'high_quality'
                       WHEN doc_id % 10 = 1 THEN 'high_quality'
                       WHEN doc_id % 2 = 0 THEN 'high_quality'
                       ELSE 'low_quality' END AS preds,
                  CASE WHEN doc_id % 10 = 0 THEN 5.5
                       WHEN doc_id % 10 = 1 THEN 2.5
                       WHEN doc_id % 2 = 0 THEN 4.0
                       ELSE 0.0 END AS float_score,
                  CASE WHEN doc_id % 10 = 0 THEN 5
                       WHEN doc_id % 10 = 1 THEN 2
                       WHEN doc_id % 2 = 0 THEN 4
                       ELSE 0 END AS int_score
           FROM documents""",

      // per-row EXACT accuracy gate: the marker-planted lang (see
      // ftLangIn) is the only separating signal, so a correct
      // train->broadcast->predict path must emit it verbatim
      "ft_langid" ->
        "SELECT doc_id, upper(lang) AS lang_pred FROM documents",

      // sigmoid closed forms over topic parities; >= keeps the exact
      // 0.5 mixed case poisoned
      "instruction_data_guard" ->
        """SELECT doc_id,
                  CASE WHEN doc_id % 8 % 2 = 0 AND doc_id % 5 % 2 = 0 THEN CAST(0.9965 AS DOUBLE)
                       WHEN doc_id % 8 % 2 = 1 AND doc_id % 5 % 2 = 1 THEN CAST(0.0035 AS DOUBLE)
                       ELSE CAST(0.5 AS DOUBLE) END AS instruction_data_guard_poisoning_score,
                  NOT (doc_id % 8 % 2 = 1 AND doc_id % 5 % 2 = 1) AS is_poisoned
           FROM documents""",

      // parse decision table over the fixture LlamaGuard's responses
      "aegis_classifier" ->
        """SELECT doc_id,
                  CASE CAST(doc_id % 5 AS INT)
                    WHEN 1 THEN 'O1' WHEN 2 THEN 'O13'
                    WHEN 3 THEN 'unknown' WHEN 4 THEN 'unknown'
                    ELSE 'safe' END AS aegis_pred
           FROM documents""",

      // closed forms over (m8 = doc_id%8 picking the task head,
      // m5 = doc_id%5 picking which complexity head fires to 0.9965);
      // the complexity sum replays in the reference's exact operand
      // order so the round-half-even 5dp values are bit-identical
      "prompt_task_complexity" ->
        """WITH b AS (
             SELECT doc_id, doc_id % 8 AS m8,
                    CASE WHEN doc_id % 5 = 0 THEN CAST(0.9954 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS cs,
                    CASE WHEN doc_id % 5 = 1 THEN CAST(0.9954 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS re,
                    CASE WHEN doc_id % 5 = 2 THEN CAST(0.9954 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS ck,
                    CASE WHEN doc_id % 5 = 3 THEN CAST(0.9954 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS fs,
                    CASE WHEN doc_id % 5 = 4 THEN CAST(0.9954 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS dk
             FROM documents)
           SELECT doc_id,
                  round_even(CAST(0.35 AS DOUBLE)*cs + CAST(0.25 AS DOUBLE)*re
                    + CAST(0.15 AS DOUBLE)*CAST(0.5 AS DOUBLE) + CAST(0.15 AS DOUBLE)*dk
                    + CAST(0.05 AS DOUBLE)*ck + CAST(0.05 AS DOUBLE)*fs, 5) AS prompt_complexity_score,
                  CASE m8 WHEN 1 THEN 'Generation' WHEN 2 THEN 'Summarization'
                    ELSE 'Classification' END AS task_type_1,
                  CASE WHEN m8 <= 2 THEN 'NA' ELSE 'Generation' END AS task_type_2,
                  CASE WHEN m8 <= 2 THEN CAST(0.998 AS DOUBLE) ELSE CAST(0.333 AS DOUBLE) END AS task_type_prob,
                  cs AS creativity_scope, re AS reasoning, ck AS contextual_knowledge,
                  fs AS number_of_few_shots, dk AS domain_knowledge,
                  CAST(0.5 AS DOUBLE) AS no_label_reason,
                  CAST(0.5 AS DOUBLE) AS constraint_ct
           FROM b""",

      // filter_by=["Games","Sports"] keeps doc_id%4 in (1,2); the
      // marker row dominates the zero EOS prior so prob is the
      // constant softmax e^5/(e^5+25) = 0.85583562 -> 0.8558
      "domain_classifier" ->
        """SELECT doc_id,
                  CASE WHEN doc_id % 4 = 1 THEN 'Sports' ELSE 'Games' END AS domain_pred,
                  0.8558 AS domain_prob
           FROM documents WHERE doc_id % 4 IN (1, 2)""",

      // window closed forms for size 256 / threshold 128 over
      // n = doc_id·7 % 700 (merge-into-last ⇔ 0 < n%256 < 128)
      "video_caption_windows" -> {
        val plen = graft.video.Captioning.prompt().length
        s"""WITH c AS (SELECT doc_id, CAST(doc_id * 7 % 700 AS INT) AS n FROM documents)
            SELECT doc_id, 0 AS window_start,
                   CASE WHEN n <= 383 THEN n - 1 ELSE 255 END AS window_end,
                   $plen AS prompt_len
            FROM c WHERE n >= 4
            UNION ALL
            SELECT doc_id, 256, CASE WHEN n <= 639 THEN n - 1 ELSE 511 END, $plen
            FROM c WHERE n >= 384
            UNION ALL
            SELECT doc_id, 512, n - 1, $plen FROM c WHERE n >= 640"""
      },

      "video_probe" ->
        """SELECT doc_id,
                  320 + CAST(doc_id % 4 AS INT) * 160 AS width,
                  240 + CAST(doc_id % 3 AS INT) * 120 AS height,
                  30 + CAST(doc_id % 50 AS INT) AS num_frames,
                  round((30 + doc_id % 50) * 40 / CAST(1000 AS DOUBLE), 6) AS duration,
                  round(CAST(25.0 AS DOUBLE), 6) AS framerate,
                  'avc1' AS video_codec, 'mp4a' AS audio_codec
           FROM documents""",

      // LCM-path frame selection over uniform 10fps clips: sequence
      // targets stride every 5th/2nd frame; middle takes the
      // left-of-pair frame at pos 0 for both targets
      "video_frame_extraction" ->
        """WITH c AS (SELECT doc_id, 11 + CAST(doc_id % 7 AS INT) AS nf FROM documents),
                ks AS (SELECT range AS k FROM range(0, 9))
           SELECT doc_id, 'FrameExtractionPolicy.sequence-2000' AS signature,
                  k AS pos, 5*k AS frame_idx
           FROM c, ks WHERE k <= (nf-1)//5
           UNION ALL
           SELECT doc_id, 'FrameExtractionPolicy.sequence-5000', k, 2*k
           FROM c, ks WHERE k <= (nf-1)//2
           UNION ALL
           SELECT doc_id, 'FrameExtractionPolicy.middle-2000', 0,
                  CASE WHEN nf % 2 = 0 THEN nf//2 - 1 ELSE nf//2 END
           FROM c
           UNION ALL
           SELECT doc_id, 'FrameExtractionPolicy.middle-5000', 0,
                  CASE WHEN nf % 2 = 0 THEN nf//2 - 1 ELSE nf//2 END
           FROM c""",

      // stride starts 3k while 3k < nf/8; end = min(3k+4, nf/8);
      // keep spans >= 2 s; fps 8 makes every product exact
      "video_fixed_stride" ->
        """WITH c AS (SELECT doc_id, 50 + CAST(doc_id % 100 AS INT) AS nf FROM documents),
                ks AS (SELECT range AS k FROM range(0, 7)),
                b AS (SELECT doc_id, 3.0*k AS s, LEAST(3.0*k + 4.0, nf/8.0) AS e
                      FROM c, ks WHERE 3.0*k < nf/8.0)
           SELECT doc_id,
                  CAST(s*8.0 AS INT) AS start_event,
                  CAST(e*8.0 AS INT) AS end_event,
                  round(CAST(s AS DOUBLE), 6) AS span_start,
                  round(CAST(e AS DOUBLE), 6) AS span_end
           FROM b WHERE e - s >= 2.0""",

      "synth_qa_multilingual" ->
        """SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'English'
                       WHEN 1 THEN 'German' ELSE 'Thai' END AS language,
                  'Write one QA pair in ' ||
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'English'
                       WHEN 1 THEN 'German' ELSE 'Thai' END || '.' AS text
           FROM documents""",

      // the ClipWriter layout contract as closed-form strings; the
      // filtered-clips rule routes every 5th clip to filtered_clips/
      "video_clip_writer" ->
        """WITH c AS (SELECT doc_id, md5('video_' || CAST(doc_id AS VARCHAR)) AS u,
                  doc_id % 5 = 0 AS f
             FROM documents)
           SELECT doc_id, u AS clip_uuid,
                  '/out/' || (CASE WHEN f THEN 'filtered_clips' ELSE 'clips' END)
                    || '/' || u || '.mp4' AS clip_location,
                  '/out/metas/v0/' || u || '.json' AS meta_location,
                  '/out/previews/' || u || '/0_64.webp' AS preview_location,
                  CAST(1 + doc_id % 3 AS DOUBLE) AS clip_duration,
                  NOT f AS passed
           FROM c""",

      // scene spans for transitions at every 10th frame over
      // n = 40 + doc_id%60 frames: first scene (0,10), interior
      // scenes (10j+1, 10j+10), trailing (10⌊(n-1)/10⌋+1, n-1)
      // unless the last frame is itself a transition
      "video_scene_clips" ->
        """WITH c AS (SELECT doc_id, 40 + CAST(doc_id % 60 AS INT) AS n FROM documents),
                js AS (SELECT range AS j FROM range(0, 10))
           SELECT doc_id,
                  CASE WHEN j = 0 THEN 0 ELSE 10*j + 1 END AS clip_start,
                  10*(j+1) AS clip_end
           FROM c, js WHERE 10*(j+1) <= n - 1
           UNION ALL
           SELECT doc_id, 10*((n-1)//10) + 1, n - 1
           FROM c WHERE (n-1) % 10 != 0""",

      // mean of the two frame scores in the head's exact double
      // arithmetic (x = the stored-float 1/√2 as double)
      "video_clip_aesthetic" ->
        """WITH b AS (SELECT doc_id,
                  CAST(doc_id % 8 AS INT) AS m8, CAST(doc_id % 5 AS INT) AS m5,
                  CAST((doc_id + 1) % 5 AS INT) AS m5b
             FROM documents),
           s AS (SELECT doc_id,
                  0.0 + (m8+1)*0.7071067690849304 + (m5+9)*0.7071067690849304 AS s1,
                  0.0 + (m8+1)*0.7071067690849304 + (m5b+9)*0.7071067690849304 AS s2
             FROM b)
           SELECT doc_id, round((s1 + s2)/2, 4) AS aesthetic_score
           FROM s WHERE (s1 + s2)/2 >= 10.0""",

      // kept clips: decode ok (doc_id%13 != 0) and k = doc_id%10 >= 3
      // (k·2⁻¹¹: k=2 = 0.0009765625 < 0.00098 is small-motion; k=0
      // also fails the per-patch 1e-6 floor); both scores equal by
      // construction (one 2×2 patch)
      "video_motion" ->
        """SELECT doc_id,
                  round((doc_id % 10) * CAST(0.00048828125 AS DOUBLE), 6) AS motion_score_global_mean,
                  round((doc_id % 10) * CAST(0.00048828125 AS DOUBLE), 6) AS motion_score_per_patch_min_256
           FROM documents
           WHERE doc_id % 13 != 0 AND doc_id % 10 >= 3""",

      // closed forms of the committed heads over one-hot topic
      // embeddings (x = 0.7071067690849304, the double value of the
      // stored float 1/√2): aesthetic = (doc_id%8+1 + doc_id%5+9)·x,
      // kept iff >= 10 ⇔ doc_id%8 + doc_id%5 >= 5; NSFW =
      // sigmoid((±4 ±4)·x), kept (< 0.5) iff both topic indices odd
      "image_scoring" ->
        """SELECT doc_id,
                  lpad(cast(doc_id AS varchar), 8, '0') AS key,
                  round((doc_id % 8 + doc_id % 5 + 10) * 0.7071067690849304, 4) AS aesthetic_score,
                  round(1.0 / (1.0 + exp(8 * 0.7071067690849304)), 4) AS nsfw_score
           FROM documents
           WHERE doc_id % 8 + doc_id % 5 >= 5
             AND doc_id % 8 % 2 = 1 AND doc_id % 5 % 2 = 1""",

      // same-class (doc_id mod 40) pairs at cosine exactly 1.0 — the
      // one-hot topic construction makes the embedder's output
      // SQL-replayable (see embArtIn / WordVecEmbedder.writeTinyArtifact)
      "emb_artifact_neardup" ->
        """SELECT a.doc_id AS src, b.doc_id AS dst, 1.0 AS cosine
           FROM documents a JOIN documents b
             ON a.doc_id < b.doc_id AND a.doc_id % 40 = b.doc_id % 40""",

      // 11-class softmax constant e^5/(e^5+10) = 0.93687393 -> 0.9369
      "content_type" ->
        """SELECT doc_id,
                  CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'Blogs' WHEN 1 THEN 'News'
                    ELSE 'Reviews' END AS content_pred,
                  0.9369 AS content_prob
           FROM documents""",

      "ft_quality" ->
        "SELECT count(*) AS docs, true AS both_classes, true AS kept_scores_higher FROM documents",

      // closed-form partner relation of the 4-hot construction: a
      // ≥0.9 neighbor exists iff the intra-decade classmate row exists
      // — two linear equi-joins, no pairwise scan
      "semantic_dedup_ids" ->
        """SELECT e.vec_id,
                  (e.vec_id % 10 = 0 AND p.vec_id IS NOT NULL)
                    OR (e.vec_id % 10 = 1 AND q.vec_id IS NOT NULL) AS has_neighbor,
                  true AS removed_ok
           FROM embeddings e
           LEFT JOIN embeddings p ON e.vec_id % 10 = 0 AND p.vec_id = e.vec_id + 1
           LEFT JOIN embeddings q ON e.vec_id % 10 = 1 AND q.vec_id = e.vec_id - 1""",

      "ivf_topk" ->
        """SELECT count(*) AS queries, true AS mean_recall_ok, true AS every_query_hits
           FROM embeddings WHERE vec_id % 100 = 0""",

      "dedup_jaccard_pairs" -> dedupJaccardOracle(nearDupIn),

      // same ground-truth SHAPE, but over the block-swap construction
      // whose near pairs are hamming-0 by construction (see swapDupIn)
      "dedup_simhash_pairs" -> dedupJaccardOracle(swapDupIn),

      // the embed->cluster->pairwise path recovers the exact J>=0.5
      // pair SET of the constructed corpus (planted pairs at cosine
      // ~1 vs <=0.85 for everything else; see the entry comment)
      "emb_text_neardup" ->
        s"SELECT src, dst FROM (${dedupJaccardOracle(embNearDupIn)})",

      // exact ground truth for the fuzzy-dedup removal set: in the exact
      // J >= 0.5 pair graph every dup group is a clique (planted dups are
      // near-identical), so the non-minimum members are exactly the
      // DISTINCT larger ids of the pairs — verified equal to the
      // MinHash+LSH+CC removal set at sf0.01
      "dedup_minhash_ids" -> {
        val ws = duckWords("lower(text)")
        s"""WITH g AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                       ELSE list_transform(range(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS grams
              FROM (SELECT doc_id, $ws AS ws
                    FROM (SELECT doc_id, $nearDupIn AS text FROM documents)))
            SELECT DISTINCT b.doc_id FROM g a JOIN g b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5"""
      },

      "lm_ppl_gate" ->
        "SELECT true AS train_better, count(*) AS docs FROM documents",

      "knn_brute" ->
        """SELECT query_id, neighbor_id, round(sim, 4) AS sim FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, c.vec_id) AS rnk
             FROM embeddings c, embeddings q
             WHERE q.vec_id % 50 = 0 AND c.vec_id != q.vec_id) WHERE rnk <= 5""",

      "emb_neardup" ->
        """SELECT l.vec_id AS src, r.vec_id AS dst,
                  round(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]), 4) AS cosine
           FROM embeddings l JOIN embeddings r ON l.label = r.label AND l.vec_id < r.vec_id
           WHERE list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) >= 0.3""",

      "mm_meta" ->
        "SELECT doc_id, octet_length(encode(text)) AS byte_length, sha256(text) AS sha256 FROM documents",

      "mod_unicode_clean" ->
        // injected 'Ã©' (chr195+chr169 = cp1252-mojibake of é) must come
        // back as the real é (chr 233); ASCII text otherwise unchanged
        "SELECT doc_id, replace(text, 'spark', 'caf' || chr(233) || ' x') AS cleaned FROM documents",

      "warc_roundtrip" ->
        "SELECT doc_id, 'http://w/' || CAST(doc_id AS VARCHAR) AS url, text AS content FROM documents",

      // expected arXiv cleaning result: section header + macro-expanded
      // body + trailing newline (chr(92) = backslash; DuckDB string
      // literals do no escape processing)
      "arxiv_extract" ->
        """SELECT doc_id,
              chr(92) || 'section{Intro}' || chr(10) ||
              replace(text, ' data ', ' quality ') || chr(10) AS text
           FROM documents""",

      "wiki_extract" ->
        "SELECT doc_id, 'Intro' || chr(10) || text || chr(10) || 'Docs' AS text FROM documents",

      // exact replay of the reference prompt template with {document}
      // substituted (template carried verbatim into the oracle literal)
      "synth_prompt" -> {
        val tpl = graft.synth.NemotronCC.prompts("wikipedia_rephrasing").replace("'", "''")
        s"SELECT doc_id, replace('$tpl', '{document}', text) AS prompt FROM documents"
      },

      "synth_diverse_qa" ->
        """SELECT doc_id, coalesce(text, '') || chr(10) || chr(10) ||
             'Question: What is the first word? Answer: [' ||
             regexp_extract(coalesce(text, ''), '^(\S+)', 1) ||
             ']' || chr(10) || 'It appears at the start.' AS diverse_qa
           FROM documents""",

      "synth_knowledge_list" ->
        """SELECT doc_id, 'first word is [' || regexp_extract(coalesce(text, ''), '^(\S+)', 1) ||
             ']' || chr(10) ||
             'second word is [' || regexp_extract(coalesce(text, ''), '^\S+ (\S+)', 1) ||
             ']' || chr(10) || 'raw tail line' AS knowledge_list
           FROM documents""",

      // reference get_wer/get_cer formulas with constructed distance 1:
      // round_even = Python's round-half-even (3.125 -> 3.12)
      "audio_wer" -> {
        val ws = duckWords("text")
        s"""SELECT doc_id,
              round_even(100.0 / len($ws), 2) AS wer,
              round_even(100.0 / length(text), 2) AS cer
            FROM documents"""
      },

      "audio_duration" -> {
        val ws = duckWords("text")
        s"""SELECT doc_id,
              round((8000 + (doc_id % 100) * 160) / 16000.0, 6) AS duration,
              round_even(length(text) / ((8000 + (doc_id % 100) * 160) / 16000.0), 2) AS charrate,
              round_even(len($ws) / ((8000 + (doc_id % 100) * 160) / 16000.0), 2) AS wordrate
            FROM documents"""
      },

      "split_rechunk" ->
        "SELECT doc_id, text AS reassembled FROM documents",

      "salted_count" ->
        "SELECT lang, count(*) AS cnt FROM documents GROUP BY 1",

      "q8_sessionize" ->
        """SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS events, round(sum(value), 2) AS total_value
           FROM (
             SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
             FROM (
               SELECT *, CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_session
               FROM (
                 SELECT event_id, ts, user_id, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                 FROM events)))
           GROUP BY user_id, session_id"""
    )
  }

  private val urlReDuck =
    "'http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\(\\),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+'"

  /** Exact all-pairs token-3-gram Jaccard in DuckDB (O(n²) —
    * oracle-tier only), thresholded at 0.5, over `inputExpr`. With the
    * constructed inputs (nearDupIn for MinHash, swapDupIn for SimHash)
    * this is a scale-robust equality oracle: planted pairs sit at J = 1
    * (sketch catch guaranteed by the identical-text collapse) and
    * J ~ 0.98–0.99 (SimHash: hamming 0 by construction — guaranteed;
    * MinHash: char-24-gram J ~ 0.992 -> per-pair LSH miss ~ 1e-20,
    * deterministic), and every other doc-pair is at J = 0.
    */
  private def dedupJaccardOracle(inputExpr: String = "text"): String = {
    val ws = duckWords("lower(text)")
    s"""WITH g AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                   ELSE list_transform(range(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS grams
          FROM (SELECT doc_id, $ws AS ws
                FROM (SELECT doc_id, $inputExpr AS text FROM documents)))
        SELECT src, dst, round(inter / (la + lb - inter), 6) AS jaccard
        FROM (
          SELECT a.doc_id AS src, b.doc_id AS dst,
                 CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS inter,
                 len(a.grams) AS la, len(b.grams) AS lb
          FROM g a JOIN g b ON a.doc_id < b.doc_id)
        WHERE inter / (la + lb - inter) >= 0.5"""
  }

  /** extract_html oracle: the wrapHtml→extract roundtrip returns the text
    * byte-identically iff its (single) paragraph passes the stopword-
    * density gate (HtmlExtract.RequiredStopwordDensity over raw-token
    * membership in the en stop list), else NULL.
    */
  private def extractHtmlOracle: String = {
    val sw = graft.extract.HtmlExtract.enStopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
    val words = duckWords("t")
    s"""SELECT doc_id,
          CASE WHEN CAST(len(list_filter($words, w -> w IN ($sw))) AS DOUBLE) / len($words) >= 0.32
               THEN t ELSE NULL END AS extracted
        FROM (SELECT doc_id, $extractIn AS t FROM documents)"""
  }

  private def taLangidOracle: String = {
    val langs = Seq(
      "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "von", "zu", "auf"),
      "en" -> Seq("the", "and", "of", "to", "in", "that", "is", "was", "for", "with", "have", "be"),
      "es" -> Seq("el", "la", "los", "las", "de", "y", "un", "una", "es", "en", "que", "por"),
      "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans", "que", "pour"),
      "pt" -> Seq("o", "a", "os", "as", "de", "e", "um", "uma", "que", "em", "para", "com")
    )
    val words = duckWords("lower(text)")
    val scoreCols = langs.map { case (l, sw) =>
      s"CAST(len(list_filter($words, w -> w IN (${sw.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) / len($words) AS s_$l"
    }.mkString(", ")
    val best = "greatest(s_de, s_en, s_es, s_fr, s_pt)"
    val pick = langs.map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id,
          CASE WHEN $best = 0 THEN 'und' $pick END AS lang_pred,
          round($best, 6) AS lang_score
        FROM (SELECT doc_id, $scoreCols FROM documents)"""
  }

  private def taQualityOracle: String = {
    val words = duckWords("text")
    s"""SELECT doc_id, round((
          least(1.0, CAST(nw AS DOUBLE) / 100.0) +
          least(1.0, (CAST(stop_cnt AS DOUBLE) / nw) / 0.06) +
          (CASE WHEN twc = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / twc END) +
          (CASE WHEN nlines = 0 THEN 0.0 ELSE CAST(punct_lines AS DOUBLE) / nlines END) +
          (CASE WHEN CAST(twc AS DOUBLE)/nw BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN CAST(nchar - twc AS DOUBLE)/greatest(1, nchar) <= 0.25 THEN 1.0
                ELSE greatest(0.0, 1.0 - (CAST(nchar - twc AS DOUBLE)/greatest(1, nchar) - 0.25) * 4) END)
        ) / 6.0, 6) AS quality
        FROM (SELECT doc_id,
          len($words) AS nw,
          len(list_filter(list_transform($words, w -> lower(w)), w -> w IN ('the','be','to','of','and','that','have','with'))) AS stop_cnt,
          length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
          length(regexp_replace(text, '\\s', '', 'g')) AS twc,
          length(text) AS nchar,
          len(list_filter(regexp_split_to_array(text, chr(10)), x -> regexp_matches(x, '\\S'))) AS nlines,
          len(list_filter(regexp_split_to_array(text, chr(10)), x -> regexp_matches(x, '\\S') AND regexp_matches(trim(x, ' ' || chr(9) || chr(13)), '[.?!"'']$$'))) AS punct_lines
        FROM documents)"""
  }
}
