package graft.embed

import graft.text.{Chunker, SentenceSplitter, SimpleTokenizer}

/** O7/O8 — the default [[EmbeddingModel]] instance (registry name
  * `hashing-768`): a deterministic embedding kernel standing in for
  * SentenceTransformer("freelawproject/modernbert-embed-base_finetune_512")
  * (reference: inception/embedding_service.py:152-165,207-213; model name
  * inception/config.py:6-9). The real weights are unavailable offline
  * (SURVEY.md §7.4.1); we preserve the pipeline CONTRACT:
  *
  *   - input is the full prefixed chunk/query text — the asymmetric
  *     "search_document: " / "search_query: " prefixes participate in the
  *     vector (embedding_service.py:90,162), so a query and an identical
  *     document chunk embed differently, as in the nomic-style reference;
  *   - output is a 768-dim L2-normalized Float vector
  *     (README.md:15 — ModernBERT-base hidden size);
  *   - fully deterministic: same text → same vector on any JVM/executor.
  *
  * Kernel: feature hashing. Each token (and each adjacent-token bigram, so
  * word order matters) is hashed with splitmix64 into 3 (dimension, sign)
  * pairs; contributions accumulate and the result is L2-normalized.
  * Pure JVM arithmetic — safe inside whole-stage codegen / mapPartitions,
  * no per-token allocation.
  */
object Embedder extends EmbeddingModel {

  val Dim = 768
  override def dim: Int = Dim
  private val FeaturesPerToken = 3

  // splitmix64 + FNV-1a: ONE definition in graft.util.Hashing
  import graft.util.Hashing.{mix64, fnvRange => hashRange}

  @inline private def addFeature(vec: Array[Float], tokenHash: Long): Unit = {
    var h = tokenHash
    var k = 0
    while (k < FeaturesPerToken) {
      h = mix64(h)
      val d = java.lang.Long.remainderUnsigned(h, Dim.toLong).toInt
      val sign = if ((h >>> 62 & 1L) == 0L) 1.0f else -1.0f
      vec(d) += sign
      k += 1
    }
  }

  /** Embed one text (already prefixed by the caller).
    *
    * Hashes the char ranges of [[SimpleTokenizer.Cursor]], the tokenizer's
    * one token-boundary scan, in place: no per-token allocation in the
    * per-row hot loop of the embed pass.
    */
  def embed(text: String): Array[Float] = {
    val vec = features(text)
    l2Normalize(vec)
    vec
  }

  /** The pre-normalisation vector: each feature adds ±1 to one dimension. */
  private def features(text: String): Array[Float] = {
    val vec = new Array[Float](Dim)
    val tok = new SimpleTokenizer.Cursor(text)
    var prev = 0L
    var first = true
    while (tok.next()) {
      val h = hashRange(text, tok.start, tok.end)
      addFeature(vec, h)
      if (!first) addFeature(vec, mix64(prev) ^ h) // order-sensitive bigram
      first = false
      prev = h
    }
    vec
  }

  private def l2Normalize(vec: Array[Float]): Unit = {
    var ss = 0.0
    var i = 0
    while (i < vec.length) { ss += vec(i).toDouble * vec(i); i += 1 }
    if (ss > 0) {
      val inv = (1.0 / math.sqrt(ss)).toFloat
      i = 0
      while (i < vec.length) { vec(i) *= inv; i += 1 }
    }
  }

  /** The flagship's per-document call, composed from one token scan per
    * sentence instead of embedding each chunk text (the inherited path,
    * which this returns bit for bit).
    *
    * Why composing is exact: every feature adds ±1 to one dimension, so a
    * chunk's pre-normalisation vector is a sum of integer counts, and
    * float sums of integers below 2^24 are exact in any order. A chunk's
    * tokens are the lead's followed by its sentences' (the join's `" "`
    * separates them, and each sentence is cut at its own token bounds),
    * so its counts are the lead's (a constant), plus each sentence's
    * token and in-sentence bigram features, plus one bigram per junction:
    * lead → first sentence, then sentence → sentence. A zero-token
    * sentence keeps its slot in the chunk text and adds neither. Counts
    * stay below 2^24 while a chunk holds under 2^24 / 6 tokens (3 per
    * token, 3 per bigram); a larger `maxTokens` takes the inherited path.
    * The chunk text is built once from the sentences' token bounds; the
    * lead is never written, since stripping it from lead + body leaves
    * `body.replace(LeadText, "")`.
    */
  override def embedDocument(
      text: String,
      maxTokens: Int,
      numOverlapSentences: Int,
      batchSize: Int
  ): Vector[(String, Array[Float])] =
    // a batch size below 1 takes the inherited path, which rejects it
    if (maxTokens > ExactMaxTokens || batchSize < 1)
      super.embedDocument(text, maxTokens, numOverlapSentences, batchSize)
    else kernels.get().run(text, maxTokens, numOverlapSentences)

  private val ExactMaxTokens = (1 << 24) / (2 * FeaturesPerToken)

  /** The lead's counts, and `mix64` of its last token's hash. */
  private val LeadCounts: Array[Int] = features(Chunker.LeadText).map(_.toInt)
  private val LeadLastMix: Long = {
    val tok = new SimpleTokenizer.Cursor(Chunker.LeadText)
    var h = 0L
    while (tok.next()) h = hashRange(Chunker.LeadText, tok.start, tok.end)
    mix64(h)
  }

  /** A feature as `dimension << 1 | negative`, from its mixed hash. */
  @inline private def code(h: Long): Int =
    (java.lang.Long.remainderUnsigned(h, Dim.toLong).toInt << 1) |
      (h >>> 62 & 1L).toInt

  private val kernels = ThreadLocal.withInitial[DocumentKernel](() => new DocumentKernel)

  /** One thread's scratch for [[embedDocument]]: the live sentences — the
    * current chunk's, numbered from `base` — and their features, in
    * arrays reused across sentences and documents.
    */
  private final class DocumentKernel {
    private[this] val cursor = new SimpleTokenizer.Cursor(null)
    private[this] val counts = new Array[Int](Dim)
    private[this] val text = new java.lang.StringBuilder
    // per live sentence, by slot = number - base: token-trimmed bounds,
    // first token's hash, mix64 of the last token's hash, and its features
    // feats[featFrom(slot), featFrom(slot + 1)), empty for a sentence that
    // keeps no token
    private[this] var starts = new Array[Int](16)
    private[this] var ends = new Array[Int](16)
    private[this] var firstHash = new Array[Long](16)
    private[this] var lastMix = new Array[Long](16)
    private[this] var featFrom = new Array[Int](17)
    private[this] var feats = new Array[Int](1024)
    private[this] var base = 0
    private[this] var live = 0

    def run(doc: String, maxTokens: Int, overlap: Int): Vector[(String, Array[Float])] = {
      val out = Vector.newBuilder[(String, Array[Float])]
      base = 0
      live = 0
      val packer = new Chunker.Packer(maxTokens, overlap) {
        protected def emit(from: Int, until: Int): Unit =
          out += chunk(doc, from, until)
      }
      val budget = packer.budget
      SentenceSplitter.forEachSentence(doc) { (from, until) =>
        drop(packer.firstLive)
        packer.add(scan(doc, from, until, budget))
      }
      packer.finish()
      // scratch grown by a huge chunk is not kept on the thread
      if (starts.length > 4096 || feats.length > (1 << 16)) kernels.remove()
      out.result()
    }

    /** Forgets the sentences before `firstLive`. */
    private def drop(firstLive: Int): Unit = {
      val n = firstLive - base
      if (n > 0) {
        val rest = live - n
        System.arraycopy(starts, n, starts, 0, rest)
        System.arraycopy(ends, n, ends, 0, rest)
        System.arraycopy(firstHash, n, firstHash, 0, rest)
        System.arraycopy(lastMix, n, lastMix, 0, rest)
        val f0 = featFrom(n)
        System.arraycopy(feats, f0, feats, 0, featFrom(live) - f0)
        var i = 0
        while (i <= rest) { featFrom(i) = featFrom(i + n) - f0; i += 1 }
        live = rest
        base = firstLive
      }
    }

    /** Stores sentence `doc[from, until)` in the next slot: one token scan,
      * stopped at `budget + 1` tokens, keeping the features of the first
      * `budget`. Returns its token count, exact up to `budget + 1`.
      */
    private def scan(doc: String, from: Int, until: Int, budget: Int): Int = {
      if (live == starts.length) grow()
      val slot = live
      cursor.reset(doc, from, until)
      var fi = featFrom(slot)
      var count = 0
      var start = from
      var end = from
      var prevMix = 0L
      while (count <= budget && cursor.next()) {
        count += 1
        if (count <= budget) {
          if (fi + 2 * FeaturesPerToken > feats.length)
            feats = java.util.Arrays.copyOf(feats, feats.length * 2)
          val h = hashRange(doc, cursor.start, cursor.end)
          if (count == 1) { firstHash(slot) = h; start = cursor.start }
          else fi = put(mix64(prevMix ^ h), fi) // order-sensitive bigram
          prevMix = mix64(h)
          fi = put(prevMix, fi)
          end = cursor.end
        }
      }
      starts(slot) = start
      ends(slot) = end
      lastMix(slot) = prevMix
      featFrom(slot + 1) = fi
      live += 1
      count
    }

    /** Writes the features of the hash whose first mix is `m`. */
    private def put(m: Long, at: Int): Int = {
      var h = m
      var k = 0
      while (k < FeaturesPerToken) {
        if (k > 0) h = mix64(h)
        feats(at + k) = code(h)
        k += 1
      }
      at + FeaturesPerToken
    }

    private def grow(): Unit = {
      val n = starts.length * 2
      starts = java.util.Arrays.copyOf(starts, n)
      ends = java.util.Arrays.copyOf(ends, n)
      firstHash = java.util.Arrays.copyOf(firstHash, n)
      lastMix = java.util.Arrays.copyOf(lastMix, n)
      featFrom = java.util.Arrays.copyOf(featFrom, n + 1)
    }

    /** The chunk of sentences `[from, until)`: its text without the lead,
      * and its vector.
      */
    private def chunk(doc: String, from: Int, until: Int): (String, Array[Float]) = {
      System.arraycopy(LeadCounts, 0, counts, 0, Dim)
      text.setLength(0)
      var prevMix = LeadLastMix
      var i = from
      while (i < until) {
        val slot = i - base
        if (i > from) text.append(' ')
        text.append(doc, starts(slot), ends(slot))
        var f = featFrom(slot)
        val fEnd = featFrom(slot + 1)
        if (f < fEnd) {
          addCounts(mix64(prevMix ^ firstHash(slot))) // the junction bigram
          while (f < fEnd) {
            val c = feats(f)
            counts(c >>> 1) += 1 - ((c & 1) << 1)
            f += 1
          }
          prevMix = lastMix(slot)
        }
        i += 1
      }
      val vec = new Array[Float](Dim)
      var d = 0
      while (d < Dim) { vec(d) = counts(d).toFloat; d += 1 }
      l2Normalize(vec)
      (text.toString.replace(Chunker.LeadText, ""), vec)
    }

    private def addCounts(m: Long): Unit = {
      var h = m
      var k = 0
      while (k < FeaturesPerToken) {
        if (k > 0) h = mix64(h)
        val c = code(h)
        counts(c >>> 1) += 1 - ((c & 1) << 1)
        k += 1
      }
    }
  }

  /** Cosine similarity between two dense vectors (shared by the ANN and
    * near-dup operators).
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}
