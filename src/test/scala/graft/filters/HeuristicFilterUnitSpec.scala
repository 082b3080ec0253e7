package graft.filters

import org.scalatest.funsuite.AnyFunSuite
import graft.filters.{HeuristicFilters => HF}

/** Unit vectors mirroring the reference test suite case-for-case
  * (tests/stages/text/modules/test_filters.py — same input strings, same
  * thresholds, same expected keep sets).
  */
class HeuristicFilterUnitSpec extends AnyFunSuite {

  private def keeps(f: DocFilter, docs: Seq[String]): Seq[String] =
    docs.filter(f.keepDocument)

  test("NonAlphaNumeric (test_filters.py:480)") {
    assert(keeps(HF.NonAlphaNumeric(),
      Seq("", "This is a test case.", "%$^%$^%$&^$()))))", "$aaa")) ==
      Seq("This is a test case.", "$aaa"))
  }

  test("SymbolsToWords (test_filters.py:493)") {
    assert(keeps(HF.SymbolsToWords(),
      Seq("mixed bag ... #", "full of words", "... # ... # #", "barely ok 3 4 5 6 7 8 9 #")) ==
      Seq("full of words", "barely ok 3 4 5 6 7 8 9 #"))
  }

  test("Numbers @0.1 (test_filters.py:513)") {
    assert(keeps(HF.Numbers(0.1),
      Seq("purely letters", "34134543", "$!@$@!$!@", "abcdefghi1")) ==
      Seq("purely letters", "$!@$@!$!@", "abcdefghi1"))
  }

  test("Urls (test_filters.py:526)") {
    val longDoc = "bunch of other words with url afdsjafidsaofjbwreowihfdsafbdashuoiotauhiofdafdsafd fdasfdafdsafdsafdsafdsafdsafdsa https://www.nvidia.com/en-us/ something else after the url etc more and more"
    assert(keeps(HF.Urls(),
      Seq("https://www.nvidia.com/en-us/", "no urls here!", "$!@$@!$!@", longDoc,
        "words with url https://www.nvidia.com/en-us/")) ==
      Seq("no urls here!", "$!@$@!$!@", longDoc))
  }

  test("Bullets (test_filters.py:555)") {
    val barely = "⁌ this \n⁌ should \n⁌barely \n⁌pass \n⁌5 \n⁌6 \n⁌7 \n⁌8 \n⁌9 \n done!"
    assert(keeps(HF.Bullets(),
      Seq("• not good", "good", "50 \n ⦾ 50", barely)) ==
      Seq("good", "50 \n ⦾ 50", barely))
  }

  test("WhiteSpace (test_filters.py:583)") {
    assert(keeps(HF.WhiteSpace(),
      Seq("\t\n\r", "good", "50%\n\n\n", "123\b")) == Seq("good", "123\b"))
  }

  test("Parentheses (test_filters.py:596)") {
    assert(keeps(HF.Parentheses(),
      Seq("()", "(not good)", "this is completely absolutely fine", "123456789(")) ==
      Seq("this is completely absolutely fine", "123456789("))
  }

  test("LongWord @4 (test_filters.py:609)") {
    assert(keeps(HF.LongWord(4), Seq("tiny", "large")) == Seq("tiny"))
  }

  test("WordCount 2..4 (test_filters.py:622)") {
    assert(keeps(HF.WordCount(2, 4),
      Seq("", "one", "two words", "$#@$ %$@$#@ !#@!", "one two three four five")) ==
      Seq("two words", "$#@$ %$@$#@ !#@!"))
  }

  test("BoilerPlateString (test_filters.py:663)") {
    val sevenParas = "1\n\n2\n\n3\n\n4\n\n5\n\n6\n\nterms of use\n\n privacy policy\n\n cookie policy\n\nuses cookies"
    assert(keeps(HF.BoilerPlateString(),
      Seq("nothing\t here", sevenParas, "too much \n\n privacy & cookies policy")) ==
      Seq("nothing\t here", sevenParas))
  }

  test("MeanWordLength (test_filters.py:688)") {
    assert(keeps(HF.MeanWordLength(),
      Seq("a", "aa", "superlongword short", "evenly balanced", "waytoolongforasingleword")) ==
      Seq("superlongword short", "evenly balanced"))
  }

  test("RepeatedLines (test_filters.py:709)") {
    assert(keeps(HF.RepeatedLines(), Seq("totally unique", "half.\nhalf.")) ==
      Seq("totally unique"))
  }

  test("RepeatedParagraphs (test_filters.py:722)") {
    assert(keeps(HF.RepeatedParagraphs(), Seq("totally unique", "half.\n\nhalf.")) ==
      Seq("totally unique"))
  }

  test("RepeatedLinesByChar (test_filters.py:735)") {
    assert(keeps(HF.RepeatedLinesByChar(),
      Seq("totally unique",
        "a.\na.\nvery very very short duplicate.",
        "half.\nhalf.",
        "super very incredibly huge long duplicate.\nsuper very incredibly huge long duplicate.\na.\nb.\nc.")) ==
      Seq("totally unique", "a.\na.\nvery very very short duplicate."))
  }

  test("RepeatedParagraphsByChar (test_filters.py:757)") {
    assert(keeps(HF.RepeatedParagraphsByChar(),
      Seq("totally unique",
        "a.\n\n  a.\n\n  very very very short duplicate.",
        "half.\n\nhalf.",
        "super very incredibly huge long duplicate.\n\nsuper very incredibly huge long duplicate.\n\n  a.\n\n  b.\n\n  c.")) ==
      Seq("totally unique", "a.\n\n  a.\n\n  very very very short duplicate."))
  }

  test("RepeatingTopNGrams n=2 @0.2 (test_filters.py:779)") {
    assert(keeps(HF.RepeatingTopNGrams(2, 0.2),
      Seq("this is a totally fine sentence with no repeat ngrams so we are ok",
        "a b . a b", "a a a a a a", "totally fine small dupe a b a b")) ==
      Seq("this is a totally fine sentence with no repeat ngrams so we are ok",
        "totally fine small dupe a b a b"))
  }

  test("RepeatingDuplicateNGrams n=2 @0.2 (test_filters.py:805)") {
    assert(keeps(HF.RepeatingDuplicateNGrams(2, 0.2),
      Seq("a a b b a a b b", "totally fine", "a a a a this should be fine as well")) ==
      Seq("totally fine", "a a a a this should be fine as well"))
  }

  test("Punctuation @0.8 (test_filters.py:818)") {
    assert(keeps(HF.Punctuation(0.8),
      Seq("not good", "good.", "just\n barely\n fine\n ok\n yep.")) ==
      Seq("good.", "just\n barely\n fine\n ok\n yep."))
  }

  test("Ellipsis @0.8 (test_filters.py:831)") {
    assert(keeps(HF.Ellipsis(0.8),
      Seq("not good...", "good.", "just...\n barely...\n fine...\n ok...\n yep.")) ==
      Seq("good.", "just...\n barely...\n fine...\n ok...\n yep."))
  }

  test("CommonEnglishWords (test_filters.py:844)") {
    assert(keeps(HF.CommonEnglishWords(),
      Seq("uncommon", "the and", "the and and of to")) ==
      Seq("the and", "the and and of to"))
  }

  test("WordsWithoutAlphabets (test_filters.py:857)") {
    assert(keeps(HF.WordsWithoutAlphabets(),
      Seq("totally fine", "good good good good !", "@")) ==
      Seq("totally fine", "good good good good !"))
  }

  test("PornographicUrls (test_filters.py:870)") {
    assert(keeps(HF.PornographicUrls(),
      Seq("no url", "fine url https://www.nvidia.com/en-us/", "bad url https://www.pornhub.com/")) ==
      Seq("no url", "fine url https://www.nvidia.com/en-us/"))
  }

  test("Histogram en/zh (test_filters.py:886 shape)") {
    val enChars = ('a' to 'z').toSet ++ ('A' to 'Z') ++ Set(' ', '.', ',')
    val f = HF.Histogram(enChars)
    assert(f.keepDocument("This is a perfectly fine English document."))
    assert(!f.keepDocument("另一方面，这是一个好的中文文档，"))
  }

  test("Substring positions (heuristic_filter.py:706-737)") {
    assert(HF.Substring("abc", "prefix").keepDocument("abcdef"))
    assert(!HF.Substring("abc", "suffix").keepDocument("abcdef"))
    assert(HF.Substring("cde", "any").keepDocument("abcdef"))
  }

  test("cascade order matches the English pipeline YAML") {
    val names = HF.englishCascade.map(_.name).toSeq
    assert(names.length == 28)
    assert(names.head == "alpha_numeric")
    assert(names.last == "bullet_ratio")
    assert(names.indexOf("word_count") == 11)
    assert(names.indexOf("repeating_top_2grams") == 18)
    assert(names.indexOf("repeating_dup_10gram") == 26)
  }

  test("n-gram counter: a capacity past 2^29 is rejected before any table is sized") {
    val c = new HF.NGramCounter
    for (huge <- Seq((1 << 30) + 1, Int.MaxValue))
      intercept[IllegalArgumentException](c.reset(huge))
    c.reset(3) // the default table still serves
    assert(c.inc(1L, 2L) == 1 && c.inc(1L, 2L) == 2)
  }
}
