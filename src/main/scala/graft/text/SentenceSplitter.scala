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
      Abbreviations.contains(text.substring(at, dot).toLowerCase(Locale.ROOT))
    else if (Character.isLowerCase(text.charAt(at)))
      true // citation/page particles: "v.", "p.", "n." never end a sentence
    else
      // an UPPERCASE single letter is an initial only in name position —
      // following a capitalized token ("John F. Kennedy", "Brown B. Smith").
      // After a lowercase word ("...vitamin C.") punkt's sentence-starter
      // heuristic re-breaks; so do we.
      prevWordIsCapitalized(text, from, at)
  }

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

  /** Split into trimmed, non-empty sentences. BreakIterator spans cover the
    * whole input and merging only coalesces ADJACENT spans, so only
    * whitespace is lost by trimming — preserving the chunker's
    * losslessness invariant (whitespace-stripped concatenation, reference
    * tests/test_embedding_service.py:309-315).
    */
  def split(text: String): Vector[String] = {
    if (text == null || text.isEmpty) return Vector.empty
    // BreakIterator instances are not thread-safe; they are cheap, so one
    // per call keeps the function pure and executor-thread-safe.
    val it = BreakIterator.getSentenceInstance(Locale.US)
    it.setText(text)
    // raw [start, end) spans, with abbreviation boundaries merged into
    // the following span BEFORE trimming (offsets stay contiguous)
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = it.first()
    var end = it.next()
    while (end != BreakIterator.DONE) {
      if (spans.nonEmpty &&
          endsWithAbbreviation(text, spans.last._1, spans.last._2))
        spans(spans.length - 1) = (spans.last._1, end)
      else spans += ((start, end))
      start = end
      end = it.next()
    }
    spans.iterator
      .map { case (s, e) => text.substring(s, e).trim }
      .filter(_.nonEmpty)
      .toVector
  }
}
