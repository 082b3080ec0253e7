package graft.extract

/** Scala port of the jusText boilerplate-removal algorithm — the
  * reference's DEFAULT HTML extractor (html_extractors/justext.py:24-141,
  * which delegates to the public justext package; classification and
  * revision logic below is ported from justext core, BSD).
  *
  * Pipeline: segment the document into paragraphs on block-level tags
  * (streaming tag machine, no DOM allocation — same parser family as
  * [[HtmlExtract]]), context-free classify each paragraph
  * (good/neargood/short/bad from length, stopword density, link
  * density), then context-sensitively revise (short/neargood inherit
  * from neighbours; headings get a second chance near good content).
  * The reference wrapper keeps paragraphs whose final class is "good"
  * and joins them with "\n\n" (common_crawl/extract.py:88).
  */
object JusText {

  final case class Params(
      lengthLow: Int = 70,
      lengthHigh: Int = 200,
      stopwordsLow: Double = 0.30,
      stopwordsHigh: Double = 0.32,
      maxLinkDensity: Double = 0.2,
      maxHeadingDistance: Int = 200,
      noHeadings: Boolean = false)

  /** One textual block: normalized text plus the counters classification
    * needs (chars inside <a>, heading/select ancestry, copyright marks).
    */
  final case class Paragraph(text: String, charsInLinks: Int,
                             isHeading: Boolean, insideSelect: Boolean) {
    def length: Int = text.length
    lazy val words: Array[String] = text.split("\\s+").filter(_.nonEmpty)
    def stopwordsDensity(stopwords: Set[String]): Double = {
      if (words.isEmpty) return 0.0
      var c = 0
      var i = 0
      while (i < words.length) {
        if (stopwords.contains(words(i).toLowerCase(java.util.Locale.ROOT))) c += 1
        i += 1
      }
      c.toDouble / words.length
    }
    def linkDensity: Double = if (text.isEmpty) 0.0 else charsInLinks.toDouble / text.length
  }

  /** justext core PARAGRAPH_TAGS — block elements that open/close a
    * paragraph.
    */
  private val paragraphTags = Set(
    "body", "blockquote", "caption", "center", "col", "colgroup", "dd",
    "div", "dl", "dt", "fieldset", "form", "legend", "optgroup", "option",
    "p", "pre", "table", "td", "textarea", "tfoot", "th", "thead", "tr",
    "ul", "li", "h1", "h2", "h3", "h4", "h5", "h6")

  private val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")
  private val removedTags = Set("head", "script", "style", "noscript", "template", "svg")

  /** Segment HTML into paragraphs (justext ParagraphMaker adapted to the
    * streaming tag parser: block tags and <br><br> break paragraphs,
    * whitespace-only text nodes are skipped, link/heading/select ancestry
    * is tracked per paragraph).
    */
  def paragraphs(html: String): Array[Paragraph] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Paragraph]
    val buf = new java.lang.StringBuilder()
    var charsInLinks = 0
    var linkDepth = 0
    var headingDepth = 0
    var selectDepth = 0
    var lastWasBr = false
    var skipTag: String = null
    var skipNest = 0

    def flush(): Unit = {
      // collapse whitespace runs to single spaces, strip
      val raw = buf.toString
      buf.setLength(0)
      val sb = new java.lang.StringBuilder(raw.length)
      var lastSpace = true
      var i = 0
      while (i < raw.length) {
        val c = raw.charAt(i)
        if (Character.isWhitespace(c)) { if (!lastSpace) { sb.append(' '); lastSpace = true } }
        else { sb.append(c); lastSpace = false }
        i += 1
      }
      var end = sb.length
      while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
      val text = sb.substring(0, end)
      if (text.nonEmpty)
        out += Paragraph(text, math.min(charsInLinks, text.length),
          headingDepth > 0, selectDepth > 0)
      charsInLinks = 0
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val close = html.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else {
          val close = html.indexOf('>', i + 1)
          if (close < 0) i = n
          else {
            val inner = html.substring(i + 1, close).trim
            val isEnd = inner.startsWith("/")
            val body = if (isEnd) inner.substring(1) else inner
            val nameEnd = body.indexWhere(ch => ch == ' ' || ch == '\t' || ch == '\n' || ch == '/')
            val tag = (if (nameEnd < 0) body else body.substring(0, nameEnd))
              .toLowerCase(java.util.Locale.ROOT)
            val selfClosing = inner.endsWith("/")

            if (skipTag != null) {
              if (tag == skipTag) {
                if (isEnd) { skipNest -= 1; if (skipNest == 0) skipTag = null }
                else if (!selfClosing) skipNest += 1
              }
            } else if (!isEnd && removedTags.contains(tag) && !selfClosing) {
              flush(); skipTag = tag; skipNest = 1
            } else if (paragraphTags.contains(tag) || (tag == "br" && lastWasBr)) {
              flush()
              lastWasBr = false
              if (!selfClosing && headingTags.contains(tag))
                headingDepth += (if (isEnd) -1 else 1)
            } else {
              if (tag == "br") { lastWasBr = true; buf.append(' ') }
              else if (tag == "a") linkDepth += (if (isEnd) -1 else 1)
              else if (tag == "select") selectDepth += (if (isEnd) -1 else 1)
            }
            if (headingDepth < 0) headingDepth = 0
            if (linkDepth < 0) linkDepth = 0
            if (selectDepth < 0) selectDepth = 0
            i = close + 1
          }
        }
      } else {
        if (skipTag == null) {
          buf.append(c)
          if (!Character.isWhitespace(c)) {
            lastWasBr = false
            // link-char count over non-whitespace chars (justext counts
            // normalized node lengths; ws-collapse makes these agree up
            // to internal single spaces — documented adaptation)
            if (linkDepth > 0) charsInLinks += 1
          }
        }
        i += 1
      }
    }
    flush()
    out.toArray
  }

  /** Context-free classification (justext core classify_paragraphs). */
  def classify(paras: Array[Paragraph], stopwords: Set[String],
               p: Params = Params()): Array[String] =
    paras.map { para =>
      val length = para.length
      val density = para.stopwordsDensity(stopwords)
      if (para.linkDensity > p.maxLinkDensity) "bad"
      else if (para.text.contains('©') || para.text.contains("&copy")) "bad"
      else if (para.insideSelect) "bad"
      else if (length < p.lengthLow) {
        if (para.charsInLinks > 0) "bad" else "short"
      } else if (density >= p.stopwordsHigh) {
        if (length > p.lengthHigh) "good" else "neargood"
      } else if (density >= p.stopwordsLow) "neargood"
      else "bad"
    }

  private def neighbour(i: Int, classes: Array[String], ignoreNeargood: Boolean,
                        inc: Int, boundary: Int): String = {
    var j = i
    while (j + inc != boundary) {
      j += inc
      val c = classes(j)
      if (c == "good" || c == "bad") return c
      if (c == "neargood" && !ignoreNeargood) return c
    }
    "bad"
  }

  /** Context-sensitive revision (justext core
    * revise_paragraph_classification), ported pass for pass: good
    * headings, short by neighbours, neargood by neighbours, more good
    * headings.
    */
  def revise(paras: Array[Paragraph], cf: Array[String],
             p: Params = Params()): Array[String] = {
    val n = paras.length
    val cls = cf.clone()
    val heading = paras.map(para => !p.noHeadings && para.isHeading)

    // good headings: a short heading within maxHeadingDistance before a
    // good paragraph becomes neargood
    var i = 0
    while (i < n) {
      if (heading(i) && cls(i) == "short") {
        var j = i + 1
        var distance = 0
        var done = false
        while (j < n && distance <= p.maxHeadingDistance && !done) {
          if (cls(j) == "good") { cls(i) = "neargood"; done = true }
          else { distance += paras(j).length; j += 1 }
        }
      }
      i += 1
    }

    // classify short by surrounding good/bad
    val newClasses = scala.collection.mutable.Map.empty[Int, String]
    i = 0
    while (i < n) {
      if (cls(i) == "short") {
        val prev = neighbour(i, cls, ignoreNeargood = true, -1, -1)
        val next = neighbour(i, cls, ignoreNeargood = true, 1, n)
        val both = Set(prev, next)
        if (both == Set("good")) newClasses(i) = "good"
        else if (both == Set("bad")) newClasses(i) = "bad"
        else if ((prev == "bad" && neighbour(i, cls, ignoreNeargood = false, -1, -1) == "neargood") ||
                 (next == "bad" && neighbour(i, cls, ignoreNeargood = false, 1, n) == "neargood"))
          newClasses(i) = "good"
        else newClasses(i) = "bad"
      }
      i += 1
    }
    newClasses.foreach { case (k, v) => cls(k) = v }

    // revise neargood: bad iff both effective neighbours are bad
    i = 0
    while (i < n) {
      if (cls(i) == "neargood") {
        val prev = neighbour(i, cls, ignoreNeargood = true, -1, -1)
        val next = neighbour(i, cls, ignoreNeargood = true, 1, n)
        cls(i) = if (prev == "bad" && next == "bad") "bad" else "good"
      }
      i += 1
    }

    // more good headings: a heading demoted to bad (but not cf-bad) near
    // following good content becomes good
    i = 0
    while (i < n) {
      if (heading(i) && cls(i) == "bad" && cf(i) != "bad") {
        var j = i + 1
        var distance = 0
        var done = false
        while (j < n && distance <= p.maxHeadingDistance && !done) {
          if (cls(j) == "good") { cls(i) = "good"; done = true }
          else { distance += paras(j).length; j += 1 }
        }
      }
      i += 1
    }
    cls
  }

  /** Full extraction: good paragraphs joined with "\n\n" (the reference
    * wrapper filters is_boilerplate = class != "good" and extract.py
    * joins; None when nothing survives). `keepBoilerplate=true` mirrors
    * is_boilerplate=False for non-spaced languages (justext.py:126-137).
    */
  def extract(html: String, stopwords: Set[String] = HtmlExtract.enStopwords,
              p: Params = Params(), keepBoilerplate: Boolean = false): Option[String] = {
    val paras = paragraphs(html)
    val kept =
      if (keepBoilerplate) paras.map(_.text)
      else {
        val cls = revise(paras, classify(paras, stopwords, p), p)
        paras.zip(cls).collect { case (para, "good") => para.text }
      }
    if (kept.isEmpty) None else Some(kept.mkString("\n\n"))
  }
}
