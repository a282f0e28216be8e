package graft.text

/** O5 — deterministic, self-contained tokenizer standing in for the HF
  * ModernBERT BPE tokenizer (reference: inception/main.py:53-55 and uses in
  * embedding_service.py:86-91,105-107,124-126,132,136,144).
  *
  * The real BPE vocabulary is unavailable offline (SURVEY.md §7.4.2), so we
  * re-specify the token cost model while preserving every property the
  * chunker relies on:
  *
  *   - `encode` → sequence of token pieces; `count = pieces.length`
  *   - `decode(encode(s)) == s` for trimmed `s` (exact round-trip — BPE has
  *     the same property for already-clean text)
  *   - token counts are CONTEXT-FREE and ADDITIVE:
  *     `count(a + " " + b) == count(a) + count(b)` — this makes the
  *     chunker's budget arithmetic exact: it sums per-sentence counts
  *     where the reference re-encodes joined overlap text
  *     (embedding_service.py:124-126).
  *   - truncation to n tokens can cut inside a long word at a subword
  *     boundary, like BPE.
  *
  * Cost model (BPE-ish): a word run `[A-Za-z0-9_]+` costs
  * `ceil(len/4)` tokens (~4 chars/token mirrors observed BPE fertility on
  * English prose); every other non-space char costs 1; whitespace is
  * carried on the following token and costs 0. `addSpecialTokens` adds 2
  * ([CLS]/[SEP] analog) to the COUNT only — mirroring the reference, which
  * includes special tokens in the lead budget (embedding_service.py:90-95)
  * but never decodes them.
  */
object SimpleTokenizer {

  val SubwordLen = 4
  val NumSpecialTokens = 2

  @inline def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  @inline def isWs(c: Char): Boolean = Character.isWhitespace(c)

  /** The ONE token-boundary scan: each `next()` advances to the next
    * token and exposes its whitespace-free char range `[start, end)`.
    * Word runs are cut into `SubwordLen`-char subwords, every other
    * non-space char is one token, whitespace belongs to no token.
    * Allocation-free per token — the embedder hashes these ranges in its
    * per-row hot loop.
    */
  final class Cursor(text: String) {
    private[this] val n = if (text == null) 0 else text.length
    private[this] var wordEnd = 0 // end of the word run being sliced
    private[this] var from = 0
    private[this] var until = 0

    /** The current token's range; valid after `next()` returned true. */
    def start: Int = from
    def end: Int = until

    def next(): Boolean = {
      var i = until
      if (i >= wordEnd) {
        while (i < n && isWs(text.charAt(i))) i += 1
        if (i >= n) return false
        if (isWordChar(text.charAt(i))) {
          var j = i + 1
          while (j < n && isWordChar(text.charAt(j))) j += 1
          wordEnd = j
        } else wordEnd = i + 1
      }
      from = i
      until = math.min(i + SubwordLen, wordEnd)
      true
    }
  }

  /** Tokenize into pieces; concatenation of pieces == input minus trailing
    * whitespace. Each piece carries its leading whitespace.
    */
  def encode(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new Cursor(text)
    var prevEnd = 0
    while (cur.next()) {
      out += text.substring(prevEnd, cur.end)
      prevEnd = cur.end
    }
    out.result()
  }

  /** Exact inverse of encode for trimmed input. */
  def decode(tokens: Seq[String]): String = {
    val s = tokens.mkString
    // leading ws can survive on the first token if the input had it
    var b = 0
    while (b < s.length && isWs(s.charAt(b))) b += 1
    s.substring(b)
  }

  def countTokens(text: String, addSpecialTokens: Boolean = false): Int = {
    val cur = new Cursor(text)
    var count = if (addSpecialTokens) NumSpecialTokens else 0
    while (cur.next()) count += 1
    count
  }

  /** The first `n` tokens as text — `decode(encode(text).take(n))`
    * without building the pieces: the slice from the first token's start
    * to the n-th token's end.
    */
  def truncate(text: String, n: Int): String = {
    val cur = new Cursor(text)
    if (n <= 0 || !cur.next()) return ""
    val from = cur.start
    var k = 1
    while (k < n && cur.next()) k += 1
    text.substring(from, cur.end)
  }
}
