package graft.text

import java.text.BreakIterator
import java.util.Locale

/** O4 — sentence segmentation.
  *
  * The reference uses NLTK punkt (inception/embedding_service.py:64-78,
  * English heuristics per its README.md:50). Offline on the JVM we use
  * `java.text.BreakIterator.getSentenceInstance(Locale.US)` plus a
  * punkt-style abbreviation-suppression merge pass: BreakIterator breaks
  * after EVERY terminator+space+capital, including abbreviations punkt
  * refuses to break on — single-letter initials ("Brown v. Board") and
  * its learned English abbreviation inventory ("No.", "Mr.", "etc.").
  *
  * Measured on the reference's own fixture
  * (tests/test_data/sample_opinion.txt, 1,148 chars of legal prose,
  * driven through every reference chunker test at
  * tests/test_embedding_service.py:265-476): raw BreakIterator yields 10
  * sentences vs punkt's 8 — two spurious boundaries, both at "v."
  * citations (boundary precision 7/9, recall 7/7). With the suppression
  * pass both spurious boundaries merge: 8/8 sentences, boundary
  * precision = recall = 1.0 (asserted in GoldenFixtureSpec). Single-letter
  * suppression is position-aware like punkt's initial heuristic: lowercase
  * particles ("v.", "p.") always merge; an uppercase single letter merges
  * only in name position (preceded by a capitalized token — "John F.
  * Kennedy"), so "…vitamin C. The court…" keeps its break. Residual
  * divergence (SURVEY.md §7.4.3): punkt may RE-INTRODUCE a break after a
  * known multi-letter abbreviation when the following token is a frequent
  * sentence starter; this pass never does. No such case exists in the
  * fixture.
  *
  * Boundaries: on all-ASCII text, a port of the JDK's own sentence DFA
  * (`sun.text.RuleBasedBreakIterator.handleNext` over the JDK 17
  * `Locale.US` tables, [[nextBoundary]]); on any other text, BreakIterator
  * itself. The two agree because the port runs the same automaton over
  * the same tables: on ASCII, no char is in an ignored category and each
  * char is one code point, so the port's loop is `handleNext`'s step for
  * step, with a run of non-terminators in the start state skipped by one
  * plain scan. SplitterSpec pins the tables against BreakIterator; a JDK
  * whose tables differ fails it.
  *
  * The merge test ([[endsWithAbbreviation]]) reads only the tail of each
  * span, by index, with the semantics of the unanchored regex
  * `([A-Za-z]+)\.\s*$` — including `$` matching before a final line
  * terminator — so a boundary costs its last word, not a regex search
  * over the whole span. ChunkerProps pins the scan to that regex.
  *
  * Pure function; the Spark UDF wrapper lives in InceptionEngine. No
  * network/retry logic is needed (the reference's retry handles NLTK
  * resource downloads, embedding_service.py:66-78 — N/A offline).
  */
object SentenceSplitter {

  /** Abbreviations the merge pass suppresses boundaries after, mirroring
    * the relevant subset of pretrained English punkt's inventory (single
    * letters are handled structurally below — punkt treats ANY
    * single-letter+period token as an initial). Lowercase, no periods.
    */
  private val Abbreviations = Set(
    "vs", "no", "nos", "mr", "mrs", "ms", "dr", "prof", "rev", "hon",
    "jr", "sr", "st", "etc", "inc", "ltd", "co", "corp", "dept", "div",
    "est", "fig", "figs", "vol", "vols", "sec", "art", "ch", "para",
    "pp", "cf", "al", "ca", "approx", "jan", "feb", "mar", "apr", "jun",
    "jul", "aug", "sep", "sept", "oct", "nov", "dec")

  /** Whether the span `text[from, to)` ends with `<token>.` followed only
    * by whitespace, where `<token>` is the whole ASCII-letter run before the
    * period; the boundary after it is suppressed for single letters and
    * [[Abbreviations]].
    *
    * One backward scan over the span's tail, with the semantics of the
    * unanchored regex `([A-Za-z]+)\.\s*$` (ASCII `\s`, leftmost match):
    *   1. drop one final U+0085 / U+2028 / U+2029 — `$` also matches
    *      before a final line terminator, and these three are the
    *      terminators ASCII `\s` does not cover (`\n`, `\r` are skipped
    *      by step 2);
    *   2. skip ASCII whitespace ` \t\n\x0B\f\r`;
    *   3. require `.`;
    *   4. walk back over `[A-Za-z]` to the start of the run (never past
    *      `from`); an empty run is no match.
    */
  private[graft] def endsWithAbbreviation(text: String, from: Int, to: Int): Boolean = {
    var end = to
    if (end > from) {
      val last = text.charAt(end - 1)
      if (last == '\u0085' || last == '\u2028' || last == '\u2029') end -= 1
    }
    while (end > from && isAsciiSpace(text.charAt(end - 1))) end -= 1
    if (end == from || text.charAt(end - 1) != '.') return false
    val dot = end - 1
    var at = dot
    while (at > from && isAsciiLetter(text.charAt(at - 1))) at -= 1
    if (at == dot) return false
    // require the token to START a word (preceded by start/non-letter):
    // "schools." must not match via its tail
    val standalone = at == from || !Character.isLetter(text.charAt(at - 1))
    if (!standalone) false
    else if (dot - at > 1)
      isAbbreviation(text, at, dot)
    else if (Character.isLowerCase(text.charAt(at)))
      true // citation/page particles: "v.", "p.", "n." never end a sentence
    else
      // an UPPERCASE single letter is an initial only in name position —
      // following a capitalized token ("John F. Kennedy", "Brown B. Smith").
      // After a lowercase word ("...vitamin C.") punkt's sentence-starter
      // heuristic re-breaks; so do we.
      prevWordIsCapitalized(text, from, at)
  }

  /** An ASCII-letter run's [[Abbreviations]] key: 5 bits per lowercased
    * letter, so keys of different runs differ and fit an Int up to 6
    * letters.
    */
  private def abbreviationKey(s: String, from: Int, until: Int): Int = {
    var k = 0
    var i = from
    while (i < until) { k = (k << 5) | ((s.charAt(i) | 0x20) - 'a' + 1); i += 1 }
    k
  }

  private val MaxAbbreviationLength = Abbreviations.map(_.length).max

  private val AbbreviationKeys: Array[Int] =
    Abbreviations.toArray.map(a => abbreviationKey(a, 0, a.length)).sorted

  /** Whether the `[A-Za-z]` run `text[from, until)` is in [[Abbreviations]],
    * ASCII-case-insensitively and without allocating.
    */
  private def isAbbreviation(text: String, from: Int, until: Int): Boolean =
    until - from <= MaxAbbreviationLength &&
      java.util.Arrays.binarySearch(AbbreviationKeys,
        abbreviationKey(text, from, until)) >= 0

  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n \x0B \f \r

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Whether the word token immediately before position `at` (skipping
    * intervening non-alphanumerics, never looking before `from`) starts
    * with an uppercase letter.
    */
  private def prevWordIsCapitalized(s: String, from: Int, at: Int): Boolean = {
    var i = at - 1
    while (i >= from && !Character.isLetterOrDigit(s.charAt(i))) i -= 1
    if (i < from) false
    else {
      var j = i
      while (j >= from && Character.isLetterOrDigit(s.charAt(j))) j -= 1
      Character.isUpperCase(s.charAt(j + 1))
    }
  }

  /** Split into trimmed, non-empty sentences. Boundary spans cover the
    * whole input and merging only coalesces ADJACENT spans, so only
    * whitespace is lost by trimming — preserving the chunker's
    * losslessness invariant (whitespace-stripped concatenation, reference
    * tests/test_embedding_service.py:309-315).
    */
  def split(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    forEachSentence(text)((from, until) => out += text.substring(from, until))
    out.result()
  }

  /** Calls `f(from, until)` with the bounds of each sentence [[split]]
    * returns, in order: the boundaries, merged after abbreviations and
    * trimmed like `String.trim`; empty spans are skipped.
    */
  private[graft] def forEachSentence(text: String)(f: (Int, Int) => Unit): Unit = {
    if (text == null || text.isEmpty) return
    val n = text.length
    // BreakIterator instances are not thread-safe; they are cheap, so one
    // per call keeps the function pure and executor-thread-safe.
    val it =
      if (isAscii(text)) null
      else {
        val bi = BreakIterator.getSentenceInstance(Locale.US)
        bi.setText(text)
        bi
      }
    def emit(from: Int, until: Int): Unit = {
      var s = from
      var e = until
      while (s < e && text.charAt(s) <= ' ') s += 1
      while (e > s && text.charAt(e - 1) <= ' ') e -= 1
      if (s < e) f(s, e)
    }
    // the pending span [start, end): an abbreviation boundary merges the
    // next span into it BEFORE trimming, so offsets stay contiguous
    var start = 0
    var end = -1
    var at = 0
    while (at < n) {
      val next = if (it == null) nextBoundary(text, at) else it.next()
      if (end >= 0 && endsWithAbbreviation(text, start, end)) end = next
      else {
        if (end >= 0) emit(start, end)
        start = at
        end = next
      }
      at = next
    }
    if (end >= 0) emit(start, end)
  }

  private def isAscii(text: String): Boolean = {
    var i = 0
    while (i < text.length && text.charAt(i) < 0x80) i += 1
    i == text.length
  }

  // ---- the JDK 17 sentence rules on ASCII text ----
  //
  // `sun.text.RuleBasedBreakIterator` drives a DFA over character
  // categories; these are its `Locale.US` sentence tables (`stateTable`,
  // `endStates`, `lookaheadStates`, `charCategoryTable`), read from the
  // running JDK by reflection. SplitterSpec pins them against
  // BreakIterator itself: every ASCII char against its
  // category, every string of up to 6 category representatives, random
  // and corpus-style text. Categories 1 (U+2029) and 7 occur only outside
  // ASCII, which keeps BreakIterator.

  private final val NumCategories = 13

  /** The category of each ASCII char. */
  private val Category: Array[Byte] = {
    val c = Array.fill[Byte](128)(8)
    def set(chars: String, cat: Int): Unit = chars.foreach(ch => c(ch) = cat.toByte)
    set(",", 0)
    set(".", 2)
    set("\"'", 3)
    set("!?", 4)
    set(('A' to 'Z').mkString, 5)
    set(('a' to 'z').mkString, 6)
    set(('0' to '9').mkString, 9)
    set(")]}", 10)
    set("([{", 11)
    set("\t\n\f\r ", 12)
    c
  }

  /** `Transition(state * NumCategories + category)`; state 0 stops. */
  private val Transition: Array[Byte] = Array[Int](
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 2, 5, 1, 11, 1, 1, 3, 1, 1, 1, 1, 1,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 3,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 2, 5, 9, 11, 1, 1, 8, 8, 1, 5, 8, 6,
    1, 2, 5, 8, 11, 4, 1, 8, 8, 1, 1, 8, 7,
    1, 2, 5, 10, 11, 4, 4, 10, 10, 1, 1, 10, 7,
    1, 2, 5, 8, 11, 4, 4, 8, 8, 1, 1, 8, 1,
    1, 2, 5, 9, 11, 4, 4, 10, 10, 1, 5, 10, 6,
    0, 0, 0, 8, 0, 4, 4, 8, 8, 0, 0, 8, 0,
    0, 2, 11, 11, 11, 0, 0, 0, 0, 0, 11, 0, 12,
    0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 12
  ).map(_.toByte)

  // bit s set: state s is an end (accepting) / a lookahead state
  private final val EndStates = (1 << 1) | (1 << 2) | (1 << 3) | (1 << 4) |
    (1 << 11) | (1 << 12)
  private final val LookaheadStates = (1 << 4) | (1 << 5) | (1 << 6) |
    (1 << 7) | (1 << 9)

  /** The boundary after `pos` in all-ASCII `text` (`pos < text.length`):
    * `RuleBasedBreakIterator.handleNext` over the tables above. Every
    * ASCII char but `.`, `!` and `?` keeps state 1, an end state, so a
    * run of them is skipped in one plain scan.
    */
  private[graft] def nextBoundary(text: String, pos: Int): Int = {
    val n = text.length
    var result = pos + 1
    var lookahead = 0
    var state = 1
    var i = pos
    while (i < n && state != 0) {
      if (state == 1) {
        var j = i
        while (j < n && { val c = text.charAt(j); c != '.' && c != '!' && c != '?' })
          j += 1
        if (j > i) { result = j; i = j }
      }
      if (i < n) {
        state = Transition(state * NumCategories + Category(text.charAt(i)))
        val bit = 1 << state
        if ((LookaheadStates & bit) != 0) {
          if ((EndStates & bit) != 0) result = lookahead else lookahead = i + 1
        } else if ((EndStates & bit) != 0) result = i + 1
        i += 1
      }
    }
    if (i == n && lookahead == n) result = n
    result
  }
}
