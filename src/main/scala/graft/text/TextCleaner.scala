package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** O2/O3 — `clean_text_for_json` / `preprocess_text` re-expressed as a pure
  * Spark Column expression chain (codegen'd, no UDF).
  *
  * Reference semantics (inception/utils.py:38-81), in order:
  *   1. keep only `\n`, `\t`, printable ASCII 0x20-0x7E — strips ALL other
  *      control chars and ALL non-ASCII including unicode (utils.py:51-55).
  *      Note: this removes `\r`, so the reference's subsequent CRLF→LF
  *      replacement (utils.py:61) is a no-op; we preserve the same
  *      observable behavior by simply not needing it.
  *   2. `\t` → space (utils.py:58-59)
  *   3. strip each line (after 1+2 only spaces remain strippable)
  *      (utils.py:63-64)
  *   4. collapse 3+ consecutive newlines to 2 (utils.py:66-67)
  *   5. trim leading/trailing whitespace (utils.py:69-70)
  *
  * Every step is a plain `regexp_replace`, so the whole cleaner inlines into
  * whole-stage codegen and, being deterministic, can be replicated
  * verbatim by any SQL engine with RE2-style regexes.
  */
object TextCleaner {

  /** The full O2 chain as a Column → Column transform. */
  def cleanTextForJson(text: Column): Column = {
    val ascii   = regexp_replace(text, "[^\\n\\t\\x20-\\x7E]", "")
    val noTabs  = regexp_replace(ascii, "\\t", " ")
    val stripped = regexp_replace(noTabs, "(?m)^ +| +$", "")
    val collapsed = regexp_replace(stripped, "\\n{3,}", "\n\n")
    regexp_replace(collapsed, "^[\\n ]+|[\\n ]+$", "")
  }

  /** O3 — cleaned text is valid iff non-empty after cleaning
    * (utils.py:73-81 raises "Text is empty after cleaning.").
    * Expressed as a predicate so callers can filter or error-route.
    */
  def isNonEmptyAfterCleaning(cleaned: Column): Column = length(cleaned) > 0

  /** The code points `(?U)\s` matches — Unicode White_Space, 25 chars —
    * as one string, read off the JDK pattern once at class init (one
    * `find` pass over the BMP) so the set is the regex's by construction
    * rather than a hand-written list. White_Space has no code point past
    * the BMP; CleanerSpec checks that against the same pattern.
    */
  val UnicodeWhiteSpace: String = {
    val bmp = new java.lang.StringBuilder(0x10000)
    var c = 0
    while (c <= 0xFFFF) {
      if (!Character.isSurrogate(c.toChar)) bmp.append(c.toChar)
      c += 1
    }
    val m = java.util.regex.Pattern.compile("(?U)\\s").matcher(bmp)
    val ws = new java.lang.StringBuilder
    while (m.find()) ws.append(m.group())
    ws.toString
  }

  /** Whitespace-insensitive trimmed length used by O1 validation
    * (utils.py:95 `len(text.strip())`): the length, in code points like
    * Spark's `length` and Python's `len`, of `text` with leading and
    * trailing [[UnicodeWhiteSpace]] removed; null counts as 0, so a null
    * text is too short rather than valid (the reference requires
    * `text: str`). Python's strip() removes UNICODE whitespace — Java's
    * bare `\s` is ASCII-only and would accept a doc padded with
    * NBSP/ideographic space that the reference rejects — so the set is
    * the JDK White_Space set. In RE2 the same set is the class
    * `[\s\p{Z}\x{0B}\x{85}]` (U+000B is spelled out because RE2's `\s`
    * has no `\v`).
    *
    * The one strip-length implementation: the Column form below calls
    * this function. It walks inward from both ends over the whitespace
    * and counts the code points between in one pass, with no allocation
    * and no regex (an unanchored `(?U)^\s+|\s+$` tries a match at every
    * position).
    */
  def strippedLength(text: String): Int = {
    if (text == null) return 0
    // the set is all BMP, so a surrogate half is never stripped
    var s = 0
    var e = text.length
    while (s < e && UnicodeWhiteSpace.indexOf(text.charAt(s)) >= 0) s += 1
    while (e > s && UnicodeWhiteSpace.indexOf(text.charAt(e - 1)) >= 0) e -= 1
    text.codePointCount(s, e)
  }

  /** [[strippedLength]] on a Column: one named, deterministic UDF
    * (`graft_stripped_length`) over the scalar walk. Spark hands it the
    * decoded Java String, so a string holding invalid UTF-8 (a binary
    * cast) never throws: each malformed sequence decodes to U+FFFD and
    * the length is that of the decoded String.
    */
  def strippedLength(text: Column): Column = strippedLengthUdf(text)

  private val strippedLengthUdf =
    udf((t: String) => strippedLength(t)).withName("graft_stripped_length")

  /** Plain-Scala twin of [[cleanTextForJson]] for pure-function call sites
    * (chunker tests, single-query path). Kept in lockstep with the Column
    * version; CleanerSpec asserts they agree.
    */
  def cleanString(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (ch == '\n' || ch == '\t' || (ch >= 32 && ch < 127)) sb.append(ch)
      i += 1
    }
    val kept = sb.toString.replace('\t', ' ')
    val strippedLines = kept.split("\n", -1).map { line =>
      var s = 0; var e = line.length
      while (s < e && line.charAt(s) == ' ') s += 1
      while (e > s && line.charAt(e - 1) == ' ') e -= 1
      line.substring(s, e)
    }
    val collapsed = strippedLines.mkString("\n").replaceAll("\\n{3,}", "\n\n")
    collapsed.replaceAll("^[\\n ]+|[\\n ]+$", "")
  }
}
