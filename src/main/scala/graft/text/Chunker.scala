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
  */
object Chunker {

  val LeadText = "search_document: "
  val QueryLead = "search_query: "

  /** Token-counted greedy packing. Returns full chunk strings
    * (lead-prefixed).
    */
  def splitSentences(
      sentences: Seq[String],
      maxTokens: Int,
      numOverlapSentences: Int
  ): Vector[String] = {
    val leadLen = SimpleTokenizer.countTokens(LeadText, addSpecialTokens = true)
    val budget = maxTokens - leadLen
    val keep = math.max(0, numOverlapSentences)
    val chunks = Vector.newBuilder[String]
    // current chunk's token-trimmed sentences and their token counts,
    // mirrors `current_chunks`; currentCount excludes the lead
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var currentCount = 0

    def flushCurrent(): Unit =
      if (current.nonEmpty) chunks += (LeadText + current.mkString(" "))

    sentences.foreach { sentence =>
      val sentLen = SimpleTokenizer.countTokens(sentence)
      if (sentLen > budget) {
        // oversized sentence: flush, emit truncated as its own chunk, reset
        flushCurrent()
        chunks += (LeadText + SimpleTokenizer.truncate(sentence, budget))
        current.clear(); counts.clear()
        currentCount = 0
      } else {
        if (currentCount + sentLen > budget) {
          flushCurrent()
          val drop = math.max(0, current.length - keep)
          current.remove(0, drop); counts.remove(0, drop)
          currentCount = counts.sum
          if (currentCount + sentLen > budget) {
            current.clear(); counts.clear()
            currentCount = 0
          }
        }
        current += SimpleTokenizer.truncate(sentence, sentLen)
        counts += sentLen
        currentCount += sentLen
      }
    }
    flushCurrent()
    chunks.result()
  }

  /** Full O4→O5→O6 path: sentence-split then pack. */
  def split(text: String, maxTokens: Int, numOverlapSentences: Int): Vector[String] =
    splitSentences(SentenceSplitter.split(text), maxTokens, numOverlapSentences)
}
