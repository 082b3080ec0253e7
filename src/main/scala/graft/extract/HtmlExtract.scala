package graft.extract

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import graft.text.PyText

/** Rule-based HTML → plain-text extraction, resiliparse-style.
  *
  * Mirrors the reference extraction contract
  * (download/html_extractors/resiliparse.py:21-79 +
  * common_crawl/extract.py:60-104): extract visible text (skipping
  * script/style and invisible elements, optional main-content heuristic
  * that drops nav/header/footer/aside), split into non-empty lines
  * ("paragraphs"), keep paragraphs whose stopword density ≥ 0.32, and
  * join the survivors with "\n\n". That join (extract.py:88) is the
  * byte-identity invariant per url.
  *
  * The extractor is a single-pass state machine (no DOM allocation) —
  * safe for malformed web HTML and fast inside codegen'd UDFs.
  */
object HtmlExtract {

  val RequiredStopwordDensity = 0.32

  /** Minimal English stop list for the density gate — the shape of the
    * reference's per-language justext stop lists (get_stop_list_dict).
    * Lowercase match on raw tokens.
    */
  val enStopwords: Set[String] = Set(
    "a", "about", "above", "after", "again", "all", "also", "an", "and",
    "any", "are", "as", "at", "be", "because", "been", "before", "being",
    "below", "between", "both", "but", "by", "can", "could", "did", "do",
    "does", "doing", "down", "during", "each", "few", "for", "from",
    "further", "had", "has", "have", "having", "he", "her", "here", "hers",
    "him", "his", "how", "i", "if", "in", "into", "is", "it", "its",
    "just", "me", "more", "most", "my", "no", "nor", "not", "now", "of",
    "off", "on", "once", "only", "or", "other", "our", "out", "over",
    "own", "same", "she", "should", "so", "some", "such", "than", "that",
    "the", "their", "them", "then", "there", "these", "they", "this",
    "those", "through", "to", "too", "under", "until", "up", "very", "was",
    "we", "were", "what", "when", "where", "which", "while", "who", "whom",
    "why", "will", "with", "would", "you", "your"
  )

  private val invisibleTags = Set("script", "style", "noscript", "template", "svg", "head")
  private val mainContentSkipTags = Set("nav", "header", "footer", "aside")
  private val blockTags = Set(
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "table", "section", "article", "blockquote", "pre", "hr",
    "nav", "header", "footer", "aside", "main", "body", "title"
  )

  /** Decode raw page bytes: strict UTF-8 first, then a windows-1252
    * fallback (the deterministic stand-in for the reference's
    * charset-detection fallback, download/utils.py:63-83; cp1252 is the
    * dominant non-UTF-8 web encoding). The fallback cannot fail: bytes
    * cp1252 leaves undefined (0x81, 0x8D, 0x8F, 0x90, 0x9D) decode to
    * U+FFFD, so every input yields Some.
    */
  def decode(bytes: Array[Byte]): Option[String] = {
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    } catch {
      case _: java.nio.charset.CharacterCodingException =>
        Some(new String(bytes, Charset.forName("windows-1252")))
    }
  }

  private val entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "rsquo" -> "’", "lsquo" -> "‘",
    "rdquo" -> "”", "ldquo" -> "“", "copy" -> "©"
  )

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          // malformed web HTML carries out-of-range refs ("&#1114112;",
          // "&#-5;") — must not throw inside a UDF (4 task failures would
          // abort the whole job for one bad entity)
          def appendRef(radix: Int, digits: String): Boolean =
            try {
              val cp = Integer.parseInt(digits, radix)
              if (Character.isValidCodePoint(cp)) { sb.appendCodePoint(cp); true } else false
            } catch { case _: NumberFormatException => false }
          if (name.startsWith("#x") || name.startsWith("#X")) {
            if (appendRef(16, name.substring(2))) i = semi + 1 else { sb.append(c); i += 1 }
          } else if (name.startsWith("#")) {
            if (appendRef(10, name.substring(1))) i = semi + 1 else { sb.append(c); i += 1 }
          } else entities.get(name) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Visible text lines of an HTML document (block tags break lines,
    * inline whitespace collapses to single spaces, entities decoded).
    */
  def visibleLines(html: String, mainContent: Boolean = true): Array[String] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val current = new java.lang.StringBuilder()
    var skipDepthTag: String = null   // inside an invisible/skipped element
    var skipNest = 0
    var i = 0
    val n = html.length

    def flushLine(): Unit = {
      // collapse whitespace runs, trim
      val raw = decodeEntities(current.toString)
      current.setLength(0)
      val sb = new java.lang.StringBuilder(raw.length)
      var lastSpace = true
      var j = 0
      while (j < raw.length) {
        val ch = raw.charAt(j)
        if (PyText.isSpace(ch)) {
          if (!lastSpace) { sb.append(' '); lastSpace = true }
        } else { sb.append(ch); lastSpace = false }
        j += 1
      }
      var end = sb.length
      while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
      if (end > 0) lines += sb.substring(0, end)
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        // comments
        if (html.startsWith("<!--", i)) {
          val close = html.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else {
          val close = html.indexOf('>', i + 1)
          if (close < 0) { i = n }
          else {
            val inner = html.substring(i + 1, close).trim
            val isEnd = inner.startsWith("/")
            val body = if (isEnd) inner.substring(1) else inner
            val nameEnd = body.indexWhere(ch => ch == ' ' || ch == '\t' || ch == '\n' || ch == '/')
            val tag = (if (nameEnd < 0) body else body.substring(0, nameEnd)).toLowerCase(java.util.Locale.ROOT)
            val selfClosing = inner.endsWith("/")

            if (skipDepthTag != null) {
              if (tag == skipDepthTag) {
                if (isEnd) { skipNest -= 1; if (skipNest == 0) skipDepthTag = null }
                else if (!selfClosing) skipNest += 1
              }
            } else {
              val shouldSkip = invisibleTags.contains(tag) ||
                (mainContent && mainContentSkipTags.contains(tag))
              if (!isEnd && shouldSkip && !selfClosing) {
                flushLine()
                skipDepthTag = tag
                skipNest = 1
              } else if (blockTags.contains(tag)) {
                flushLine()
              }
              // inline tags contribute nothing
            }
            i = close + 1
          }
        }
      } else {
        if (skipDepthTag == null) current.append(c)
        i += 1
      }
    }
    flushLine()
    lines.toArray
  }

  /** Stopword-density paragraph gate (resiliparse.py:55-79, ported):
    * words = whitespace split; keep iff stopword fraction ≥ density.
    */
  def filterByStopwordDensity(paragraphs: Array[String], stopwords: Set[String],
                              density: Double = RequiredStopwordDensity): Array[String] =
    paragraphs.filter { p =>
      val ws = PyText.splitWhitespace(p)
      ws.nonEmpty && {
        var stops = 0
        var i = 0
        while (i < ws.length) {
          if (stopwords.contains(ws(i))) stops += 1
          i += 1
        }
        stops.toDouble / ws.length >= density
      }
    }

  /** Full extraction: html string → extracted text (None if nothing
    * survives — the reference drops such rows, extract.py:86-99).
    * Paragraph join is "\n\n" (extract.py:88) — the byte-identity
    * invariant.
    */
  def extractText(html: String, stopwords: Set[String] = enStopwords,
                  applyDensity: Boolean = true): Option[String] = {
    val lines = visibleLines(html).filter(_.nonEmpty)
    val kept = if (applyDensity) filterByStopwordDensity(lines, stopwords) else lines
    if (kept.isEmpty) None else Some(kept.mkString("\n\n"))
  }

  /** bytes → text, with decode fallback. */
  def extractFromBytes(htmlBytes: Array[Byte]): Option[String] =
    decode(htmlBytes).flatMap(extractText(_))
}
