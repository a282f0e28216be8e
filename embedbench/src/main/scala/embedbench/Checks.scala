package embedbench

import graft.config.EngineConfig
import graft.embed.Embedder
import graft.engine.DocumentEmbeddings
import graft.text.Chunker

/** Chunks and vectors of one document, for comparison with a direct call. */
final case class DocSample(docId: Long, chunks: Vector[String], vectors: Vector[Array[Float]])

/** What one partition of an embed job's output folds into. Vectors stay
  * on the executor: only ids, counts, an order-independent digest and the
  * few sampled documents travel to the driver.
  */
final case class CorpusSummary(
    docIds: Vector[Long],
    chunks: Long,
    badNumbering: Long,
    badDim: Long,
    badNorm: Long,
    digest: Long,
    samples: Vector[DocSample]) {

  def merge(o: CorpusSummary): CorpusSummary = CorpusSummary(
    docIds ++ o.docIds, chunks + o.chunks, badNumbering + o.badNumbering,
    badDim + o.badDim, badNorm + o.badNorm, digest + o.digest,
    samples ++ o.samples)
}

object CorpusSummary {
  val empty: CorpusSummary = CorpusSummary(Vector.empty, 0, 0, 0, 0, 0, Vector.empty)
}

object Checks {

  val Dim = 768
  val NormTolerance = 1e-5

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Hash of one document's full result: ids, chunk texts and vector bits. */
  def docHash(d: DocumentEmbeddings): Long = {
    var h = mix(d.doc_id)
    d.embeddings.foreach { e =>
      h = mix(h ^ e.chunk_number)
      h = mix(h ^ e.chunk.hashCode)
      var i = 0
      while (i < e.embedding.length) {
        h = mix(h ^ java.lang.Float.floatToRawIntBits(e.embedding(i)))
        i += 1
      }
    }
    h
  }

  /** Fold one partition of `embedDocuments` output. */
  def fold(docs: Iterator[DocumentEmbeddings], sampleIds: Set[Long]): CorpusSummary = {
    val ids = Vector.newBuilder[Long]
    val samples = Vector.newBuilder[DocSample]
    var chunks, badNumbering, badDim, badNorm, digest = 0L
    docs.foreach { d =>
      ids += d.doc_id
      chunks += d.embeddings.length
      if (d.embeddings.isEmpty ||
          d.embeddings.iterator.zipWithIndex.exists { case (e, i) => e.chunk_number != i + 1 })
        badNumbering += 1
      d.embeddings.foreach { e =>
        if (e.embedding.length != Dim) badDim += 1
        var ss = 0.0
        e.embedding.foreach(x => ss += x.toDouble * x)
        if (math.abs(math.sqrt(ss) - 1.0) > NormTolerance) badNorm += 1
      }
      digest += docHash(d)
      if (sampleIds.contains(d.doc_id))
        samples += DocSample(d.doc_id, d.embeddings.map(_.chunk).toVector,
          d.embeddings.map(_.embedding).toVector)
    }
    CorpusSummary(ids.result(), chunks, badNumbering, badDim, badNorm, digest,
      samples.result())
  }

  /** A direct `Chunker.split` + `Embedder.embed` of one document, shaped
    * like the engine's output (lead prefix embedded, stripped from text).
    */
  def direct(id: Long, text: String, conf: EngineConfig): DocSample = {
    val chunks = Chunker.split(text, conf.maxTokens, conf.numOverlapSentences)
    DocSample(id, chunks.map(_.replace(Chunker.LeadText, "")),
      chunks.map(c => Embedder.embed(c)))
  }

  /** Every way `got` disagrees with what the generator and direct calls
    * say the embed job must return; empty when it is correct.
    * `refDigest` is an earlier identical job's digest, if any.
    */
  def checkCorpus(
      got: CorpusSummary,
      expectedIds: Vector[Long],
      expectedSamples: Seq[DocSample],
      refDigest: Option[Long]): Vector[String] = {
    val errs = Vector.newBuilder[String]
    val ids = got.docIds.sorted
    if (ids != expectedIds) {
      val missing = expectedIds.diff(ids).take(5)
      val extra = ids.diff(expectedIds).take(5)
      errs += s"valid-doc set differs: ${ids.length} ids, expected ${expectedIds.length}" +
        s" (missing ${missing.mkString(",")}; unexpected ${extra.mkString(",")})"
    }
    if (got.badNumbering > 0)
      errs += s"${got.badNumbering} docs with chunk_number not contiguous from 1"
    if (got.badDim > 0) errs += s"${got.badDim} vectors not $Dim-d"
    if (got.badNorm > 0) errs += s"${got.badNorm} vectors not unit-norm within $NormTolerance"
    val bySample = got.samples.map(s => s.docId -> s).toMap
    expectedSamples.foreach { e =>
      bySample.get(e.docId) match {
        case None => errs += s"sampled doc ${e.docId} missing"
        case Some(s) =>
          if (s.chunks != e.chunks)
            errs += s"doc ${e.docId}: chunks differ from a direct Chunker.split"
          else if (s.vectors.length != e.vectors.length ||
              s.vectors.lazyZip(e.vectors).exists((a, b) => !java.util.Arrays.equals(a, b)))
            errs += s"doc ${e.docId}: vectors differ from a direct Embedder.embed"
      }
    }
    refDigest.foreach { r =>
      if (r != got.digest) errs += f"output digest ${got.digest}%016x differs from first job's $r%016x"
    }
    errs.result()
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on the decimal string form. */
  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** Squared norms accumulated exactly as the engine's cosine kernel does. */
  def squaredNorm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }

  /** Driver-side exact top-k with the engine's rule: rank on the cosine
    * rounded to 4 dp, descending, then on id ascending. The cosine is
    * computed with the same double arithmetic as the engine's kernel, so
    * scores are bit-identical. `norms` holds [[squaredNorm]] of each row.
    */
  def exactTopK(
      ids: Array[Long], vecs: Array[Array[Float]], norms: Array[Double],
      q: Array[Float], k: Int): Vector[Long] = {
    val nq = squaredNorm(q)
    val bestScore = Array.fill(k)(Double.NegativeInfinity)
    val bestId = Array.fill(k)(Long.MaxValue)
    def better(s: Double, id: Long, j: Int): Boolean =
      s > bestScore(j) || (s == bestScore(j) && id < bestId(j))
    var r = 0
    while (r < vecs.length) {
      val v = vecs(r)
      val n = math.min(v.length, q.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v(i).toDouble * q(i).toDouble; i += 1 }
      val c =
        if (norms(r) == 0.0 || nq == 0.0) 0.0
        else dot / (math.sqrt(norms(r)) * math.sqrt(nq))
      val s = round4(c)
      if (better(s, ids(r), k - 1)) {
        var j = k - 1
        while (j > 0 && better(s, ids(r), j - 1)) {
          bestScore(j) = bestScore(j - 1); bestId(j) = bestId(j - 1); j -= 1
        }
        bestScore(j) = s; bestId(j) = ids(r)
      }
      r += 1
    }
    bestId.iterator.takeWhile(_ != Long.MaxValue).toVector
  }

  def checkTopK(got: Seq[Long], expected: Seq[Long]): Option[String] =
    if (got == expected) None
    else Some(s"top-k ${got.mkString(",")} != exact ${expected.mkString(",")}")
}
