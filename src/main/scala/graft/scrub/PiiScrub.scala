package graft.scrub

import java.util.regex.Pattern
import graft.text.PyText

/** Regex-based PII + toxicity scrubbing, required by the build target
  * (BASELINE.json north rule). The reference snapshot only ships a
  * GLiNER-model redactor in a tutorial
  * (tutorials/text/gliner-pii-redaction/gliner_pii_redactor.py:90-176 —
  * entity spans replaced with `{LABEL}` tags); we keep that replacement
  * convention but match entities with compiled regexes, in the same
  * Modify-stage shape as UrlRemover (modifiers/url_remover.py:22-31).
  *
  * Patterns are compiled once per JVM (static), shared by all executor
  * threads — the "compile once per partition" requirement is met by
  * class-loading, with no per-row or per-partition recompilation.
  */
object PiiScrub {

  // All patterns stay inside the Java∩RE2 regex subset (no lookaround) so
  // a DuckDB/RE2 oracle running the same pattern produces identical text.

  /** RFC-5322-lite email matcher. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val emailRe: Pattern = Pattern.compile(emailPattern)

  /** NANP-ish phone formats: +1-555-123-4567, (555) 123-4567,
    * 555-123-4567, 555.123.4567.
    */
  val phonePattern: String =
    "(?:\\+\\d{1,2}[-. ])?(?:\\(\\d{3}\\)[-. ]?|\\b\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b"
  val phoneRe: Pattern = Pattern.compile(phonePattern)

  /** Dotted-quad IPv4 with 0-255 octet bounds, word-bounded. */
  val ipv4Pattern: String =
    "\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"
  val ipv4Re: Pattern = Pattern.compile(ipv4Pattern)

  val EMAIL_TAG = "{EMAIL}"
  val PHONE_TAG = "{PHONE}"
  val IP_TAG = "{IP}"

  // Cheap exact pre-gates: every email match contains '@' and every
  // phone/IP match contains an ASCII digit, so a text without the gate
  // character cannot match and the regex scan (the dominant per-row
  // scrub cost — ~280 us/doc over the three passes on clean prose) is
  // skipped with the result byte-identical.
  @inline private def hasAsciiDigit(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') return true
      i += 1
    }
    false
  }

  def scrubEmails(text: String): String =
    if (text.indexOf('@') < 0) text else emailRe.matcher(text).replaceAll(EMAIL_TAG)
  def scrubPhones(text: String): String =
    if (!hasAsciiDigit(text)) text else phoneRe.matcher(text).replaceAll(PHONE_TAG)
  def scrubIps(text: String): String =
    if (!hasAsciiDigit(text)) text else ipv4Re.matcher(text).replaceAll(IP_TAG)

  /** Full PII pass: emails first (so the phone regex can't eat an email's
    * digits), then IPs (before phones, so dotted quads aren't read as
    * phone groups), then phones.
    */
  def scrubPii(text: String): String = scrubPhones(scrubIps(scrubEmails(text)))

  /** Default profanity lexicon (small, deterministic; production swaps in a
    * broadcast list). Matched on word boundaries, case-insensitive —
    * mirrors the reference's broadcast-lexicon substring matching shape
    * (modifiers/line_remover.py / c4.py policy lists).
    */
  val defaultProfanity: Seq[String] = Seq(
    "fuck", "shit", "bitch", "asshole", "bastard", "cunt", "dick",
    "slut", "whore", "nigger", "faggot", "porn", "xxx"
  )

  final class ProfanityScrubber(lexicon: Seq[String], tag: String = "{PROFANITY}")
      extends Serializable {
    @transient private lazy val pattern: Pattern = Pattern.compile(
      "(?i)\\b(?:" + lexicon.map(Pattern.quote).mkString("|") + ")\\b")
    // Exact pre-gate for the alternation regex: (?i) without UNICODE_CASE
    // folds US-ASCII only, so the regex can match iff some lexicon word
    // appears as an ASCII-case-folded substring (the \b boundaries only
    // narrow that). One scan over the text with a first-char dispatch
    // table replaces the full regex pass on the (typical) clean doc.
    @transient private lazy val byFirstChar: Array[Array[String]] = {
      val m = new Array[scala.collection.mutable.ArrayBuffer[String]](128)
      lexicon.filter(_.nonEmpty).foreach { w =>
        val c0 = asciiLower(w.charAt(0))
        if (c0 < 128) {
          if (m(c0) == null) m(c0) = scala.collection.mutable.ArrayBuffer.empty[String]
          m(c0) += w
        }
      }
      m.map(b => if (b == null) null else b.toArray)
    }
    @transient private lazy val gateExact: Boolean =
      lexicon.forall(w => w.nonEmpty && w.forall(_ < 128))
    @inline private def asciiLower(c: Char): Int =
      if (c >= 'A' && c <= 'Z') c + 32 else c.toInt
    private def maybeMatches(text: String): Boolean = {
      if (!gateExact) return true // non-ASCII lexicon: skip the gate, run the regex
      var i = 0
      while (i < text.length) {
        val c0 = asciiLower(text.charAt(i))
        if (c0 < 128 && byFirstChar(c0) != null) {
          val cands = byFirstChar(c0)
          var k = 0
          while (k < cands.length) {
            val w = cands(k)
            if (i + w.length <= text.length) {
              var j = 1
              while (j < w.length && asciiLower(text.charAt(i + j)) == asciiLower(w.charAt(j))) j += 1
              if (j == w.length) return true
            }
            k += 1
          }
        }
        i += 1
      }
      false
    }
    def scrub(text: String): String =
      if (!maybeMatches(text)) text else pattern.matcher(text).replaceAll(tag)
    /** fraction of words that are profane — a toxicity score. */
    def toxicityScore(text: String): Double = {
      val ws = PyText.splitWhitespace(text)
      if (ws.isEmpty) return 0.0
      var hits = 0
      var i = 0
      while (i < ws.length) {
        if (pattern.matcher(ws(i)).find()) hits += 1
        i += 1
      }
      hits.toDouble / ws.length
    }
  }

  lazy val defaultScrubber = new ProfanityScrubber(defaultProfanity)
}
