package graft.text

import java.util.regex.Pattern

/** Shared lexical constants for the heuristic filters.
  * Ported value-for-value from reference
  * stages/text/utils/constants.py:19-77 (public Apache-2.0 code).
  */
object Constants {

  val endMarks: Array[String] = Array(".", "?", "!", "\"", "'")

  val ellipsisMarks: Set[String] =
    Set("...", "[...]", "…", "(...)", "[…]", "-»", "read more..", "read more")

  val policySubstrings: Array[String] = Array(
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "privacy overview",
    "use of cookies",
    "use cookies",
    "privacy & cookies policy",
    "privacy and cookies policy",
    ("This website uses cookies to improve your experience while you " +
      "navigate through the website. Out of these cookies, the cookies " +
      "that are categorized as necessary are stored on your browser as they " +
      "are essential for the working of basic functionalities of the website. " +
      "We also use third-party cookies that help us analyze and understand how " +
      "you use this website. These cookies will be stored in your browser only " +
      "with your consent. You also have the option to opt-out of these " +
      "cookies. But opting out of some of these cookies may have an effect " +
      "on your browsing experience.").toLowerCase(java.util.Locale.ROOT),
    ("Necessary cookies are absolutely essential for the website to " +
      "function properly. This category only includes cookies that " +
      "ensures basic functionalities and security features of the website. " +
      "These cookies do not store any personal information.").toLowerCase(java.util.Locale.ROOT),
    ("Any cookies that may not be particularly necessary for the website " +
      "to function and is used specifically to collect user personal data " +
      "via analytics, ads, other embedded contents are termed as non-necessary " +
      "cookies. It is mandatory to procure user consent prior to running these " +
      "cookies on your website.").toLowerCase(java.util.Locale.ROOT),
    ("This site uses cookies, including for analytics, personalization, and " +
      "advertising purposes. For more information or to change your " +
      "cookie settings, click here.").toLowerCase(java.util.Locale.ROOT),
    ("If you continue to browse this site without changing your cookie " +
      "settings, you agree to this use. AcceptRead More").toLowerCase(java.util.Locale.ROOT)
  )

  val commonEnglishWords: Set[String] =
    Set("the", "be", "to", "of", "and", "that", "have", "with")

  // reference bullet glyphs (constants.py:58-70)
  val bullets: Array[String] = Array(
    "•", "‣", "⁃", "⁌", "⁍", "∙",
    "○", "●", "◘", "◦", "⦾", "⦿"
  )

  /** chars counted as "alphanumeric" by NonAlphaNumericFilter:
    * `[a-zA-Z0-9\n?!,.]` (constants.py:75 regex_alphanum).
    */
  @inline def isAlphanumForFilter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '\n' || c == '?' || c == '!' || c == ',' || c == '.'

  /** URL matcher, identical pattern to constants.py:75 regex_url.
    * `[$-_@.&+]` is a character RANGE 0x24..0x5F plus @ . & + (subsumed).
    */
  val urlPattern: Pattern = Pattern.compile(
    "http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\(\\),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+"
  )

  /** Bracket chars for ParenthesesFilter (constants.py:76 regex_paren). */
  @inline def isParen(c: Char): Boolean =
    c == '{' || c == '}' || c == '⟨' || c == '⟩' ||
      c == '[' || c == ']' || c == '(' || c == ')'
}
