package graft.text

/** O6 — `split_text_into_chunks`, the one genuinely custom operator
  * (reference: inception/embedding_service.py:80-150). Pure function over a
  * sentence list so every reference chunker invariant
  * (tests/test_embedding_service.py:265-476) is testable without Spark.
  *
  * Faithful control flow, branch by branch:
  *   - budget starts at the lead's token count WITH special tokens
  *     (embedding_service.py:90-95);
  *   - a single sentence over `maxTokens - leadLen`: flush the current
  *     chunk if non-empty, hard-truncate the sentence to
  *     `maxTokens - leadLen` tokens, emit it as its own chunk, and reset
  *     with NO overlap (lines 100-113);
  *   - overflow when appending: flush, then carry the last
  *     `numOverlapSentences` sentences into the next chunk — unless
  *     lead + overlap + sentence would itself overflow, in which case
  *     start clean (lines 116-141). The reference re-encodes the overlap
  *     sentences joined with " " (lines 124-126); token counts are
  *     additive, so summing the carried sentences' counts is exact;
  *   - final partial chunk is emitted (lines 147-149);
  *   - every chunk is `lead + sentences.mkString(" ")` where each sentence
  *     is decode(encode(sentence)) (lines 103,122,144,149), i.e. its
  *     `SimpleTokenizer.truncate` to its own token count.
  *
  * The control flow lives once, in [[Packer]], over token counts alone.
  * [[splitSentences]] turns its sentence ranges into chunk strings; the
  * flagship's `Embedder.embedDocument` turns the same ranges into chunk
  * texts and vectors composed from one token scan per sentence, without
  * building the lead-prefixed strings (see `Embedder` for why that is
  * exact). Any other model gets the strings of [[split]].
  */
object Chunker {

  val LeadText = "search_document: "
  val QueryLead = "search_query: "

  /** The lead's token count WITH special tokens (embedding_service.py:90-95). */
  val LeadTokens: Int = SimpleTokenizer.countTokens(LeadText, addSpecialTokens = true)

  /** The one packing routine: the greedy pass of `split_text_into_chunks`
    * over sentence token counts alone. Sentences are numbered 0, 1, … in
    * [[add]] order; each chunk it closes is a contiguous range of them,
    * handed to [[emit]], where each sentence keeps its first
    * `min(count, budget)` tokens — all of them, unless it is an oversized
    * sentence emitted alone. [[splitSentences]] builds chunk strings from
    * the ranges; `Embedder.embedDocument` composes chunk vectors from them.
    */
  private[graft] abstract class Packer(maxTokens: Int, numOverlapSentences: Int) {

    /** Tokens a chunk's sentences may hold: the budget without the lead. */
    final val budget: Int = maxTokens - LeadTokens
    private[this] val keep = math.max(0, numOverlapSentences)
    // the current chunk's sentences, `first` until `first + size`, and
    // their token counts; total excludes the lead
    private[this] var counts = new Array[Int](16)
    private[this] var first = 0
    private[this] var size = 0
    private[this] var total = 0

    /** Receives the chunk of sentences `[from, until)`. */
    protected def emit(from: Int, until: Int): Unit

    /** The current chunk's first sentence: no chunk closed later reaches
      * back before it.
      */
    final def firstLive: Int = first

    /** Packs the next sentence, with `count` tokens; a count above
      * `budget` need not be exact.
      */
    final def add(count: Int): Unit = {
      val idx = first + size
      if (count > budget) {
        // oversized sentence: flush, emit truncated as its own chunk, reset
        if (size > 0) emit(first, idx)
        emit(idx, idx + 1)
        first = idx + 1; size = 0; total = 0
      } else {
        if (total + count > budget) {
          if (size > 0) emit(first, idx)
          // carry the last `keep` sentences, unless they overflow with it
          val drop = math.max(0, size - keep)
          System.arraycopy(counts, drop, counts, 0, size - drop)
          first += drop; size -= drop
          total = 0
          var i = 0
          while (i < size) { total += counts(i); i += 1 }
          if (total + count > budget) { first = idx; size = 0; total = 0 }
        }
        if (size == counts.length) counts = java.util.Arrays.copyOf(counts, size * 2)
        counts(size) = count
        size += 1
        total += count
      }
    }

    /** Emits the final partial chunk (lines 147-149). */
    final def finish(): Unit = if (size > 0) emit(first, first + size)
  }

  /** Token-counted greedy packing. Returns full chunk strings
    * (lead-prefixed).
    */
  def splitSentences(
      sentences: Seq[String],
      maxTokens: Int,
      numOverlapSentences: Int
  ): Vector[String] = {
    val sents = sentences.toIndexedSeq
    val kept = new Array[Int](sents.length) // tokens each sentence keeps
    val chunks = Vector.newBuilder[String]
    val packer = new Packer(maxTokens, numOverlapSentences) {
      protected def emit(from: Int, until: Int): Unit = {
        val sb = new java.lang.StringBuilder(LeadText)
        var i = from
        while (i < until) {
          if (i > from) sb.append(' ')
          sb.append(SimpleTokenizer.truncate(sents(i), kept(i)))
          i += 1
        }
        chunks += sb.toString
      }
    }
    var i = 0
    while (i < sents.length) {
      val count = SimpleTokenizer.countTokens(sents(i))
      kept(i) = math.min(count, packer.budget)
      packer.add(count)
      i += 1
    }
    packer.finish()
    chunks.result()
  }

  /** Full O4→O5→O6 path: sentence-split then pack. */
  def split(text: String, maxTokens: Int, numOverlapSentences: Int): Vector[String] =
    splitSentences(SentenceSplitter.split(text), maxTokens, numOverlapSentences)
}
