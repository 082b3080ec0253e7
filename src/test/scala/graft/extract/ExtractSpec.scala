package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.CCPages

class ExtractSpec extends AnyFunSuite {

  test("visible text: skips script/style/head, breaks on block tags, decodes entities") {
    val html = "<html><head><title>T</title><style>x{}</style></head>" +
      "<body><p>Hello &amp; welcome</p><script>var a=1;</script><p>Second   line</p></body></html>"
    assert(HtmlExtract.visibleLines(html).toSeq == Seq("Hello & welcome", "Second line"))
  }

  test("main-content heuristic drops nav/header/footer/aside") {
    val html = "<body><nav>Home About</nav><p>the real content is here and it is about all of the things</p><footer>Copyright</footer></body>"
    assert(HtmlExtract.visibleLines(html).toSeq ==
      Seq("the real content is here and it is about all of the things"))
    assert(HtmlExtract.visibleLines(html, mainContent = false).toSeq ==
      Seq("Home About", "the real content is here and it is about all of the things", "Copyright"))
  }

  test("numeric and hex entities decode") {
    assert(HtmlExtract.visibleLines("<p>&#65;&#x42;</p>").toSeq == Seq("AB"))
  }

  test("comments are skipped") {
    assert(HtmlExtract.visibleLines("<p>a<!-- hidden <p>x</p> -->b</p>").toSeq == Seq("ab"))
  }

  test("stopword-density gate (resiliparse.py:55-79 semantics)") {
    val paras = Array(
      "the cat is on the mat and it is happy",          // high density
      "buy gold silver diamond platinum crypto now")    // zero density
    val kept = HtmlExtract.filterByStopwordDensity(paras, HtmlExtract.enStopwords)
    assert(kept.toSeq == Seq("the cat is on the mat and it is happy"))
  }

  test("decode: strict utf-8 first, windows-1252 fallback") {
    assert(HtmlExtract.decode("héllo".getBytes("UTF-8")).contains("héllo"))
    val cp1252 = "it’s".getBytes("windows-1252") // 0x92 is invalid UTF-8
    assert(HtmlExtract.decode(cp1252).contains("it’s"))
    // 0x81 is invalid UTF-8 and undefined in cp1252: U+FFFD, not None
    assert(HtmlExtract.decode(Array[Byte]('a', 0x81.toByte, 'b')).contains("a\uFFFDb"))
  }

  test("extraction joins kept paragraphs with \\n\\n (extract.py:88 invariant)") {
    val html = "<body><p>the cat is on the mat and it is happy</p>" +
      "<p>zz qq ww ee rr tt</p>" +
      "<p>it was all that we could have done for them</p></body>"
    assert(HtmlExtract.extractText(html).contains(
      "the cat is on the mat and it is happy\n\nit was all that we could have done for them"))
  }

  test("nothing survives -> None (row dropped like the reference)") {
    assert(HtmlExtract.extractText("<body><p>zz qq ww</p></body>").isEmpty)
  }

  test("cc_pages round trip: clean-class pages extract to their text lines") {
    // html wraps each text line in <p>; extraction recovers exactly the
    // lines that pass the density gate, joined by \n\n — byte-identical.
    var checked = 0
    for (i <- 0L until 200L if i % 10 < 5) {
      val p = CCPages.page(i)
      val expectedLines = p.text.split("\n", -1).filter(_.nonEmpty)
        .map(_.replaceAll("\\s+", " ").trim).filter(_.nonEmpty)
      val expected = HtmlExtract.filterByStopwordDensity(expectedLines, HtmlExtract.enStopwords)
      val got = HtmlExtract.extractFromBytes(p.html)
      assert(got.contains(expected.mkString("\n\n")), s"page $i extraction mismatch")
      checked += 1
    }
    assert(checked == 100)
  }

  test("cc_pages non-UTF-8 rows decode via fallback and extract") {
    val p = CCPages.page(17) // the cp1252 row class
    assert(HtmlExtract.extractFromBytes(p.html).isDefined)
  }
}
