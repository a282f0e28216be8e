package graft.embed

import graft.text.Chunker

/** The pluggable embedder seam. The reference's whole design makes the
  * model a PARAMETER — `transformer_model_name` arrives via config
  * (inception/config.py:6-9) and the service loads whatever it names
  * (inception/embedding_service.py:52-66); swapping models is a config
  * edit, not a code edit. This trait is the JVM twin of that seam: a
  * real model (ONNX runtime, JNI, a remote inference client) drops into
  * the engine's `mapPartitions` by implementing `dim` + `embed` — no
  * engine code changes. Serializable because instances ride task
  * closures to executors; implementations holding non-serializable
  * native handles should lazy-init them per-JVM (the standard
  * transient-lazy pattern).
  */
trait EmbeddingModel extends Serializable {

  /** Output dimensionality — every vector returned has exactly this
    * length (the reference's hidden-size contract, 768 for ModernBERT).
    */
  def dim: Int

  /** Embed one text (already carrying its task prefix). */
  def embed(text: String): Array[Float]

  /** Batched variant mirroring `model.encode(sentences, batch_size=…)`
    * (embedding_service.py:207-213) — the device micro-batch call site;
    * a GPU-backed implementation overrides this one.
    */
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map(embed)

  /** The flagship's per-document call: the lead-prefixed chunks of
    * `Chunker.split`, embedded through [[embedBatch]] in `batchSize`
    * groups. Returns each chunk's text with the lead stripped
    * (`replace(LeadText, "")`, embedding_service.py:221-223) and its
    * vector, in document order. `Embedder` overrides it with chunk
    * vectors composed from one token scan per sentence; any other model
    * keeps this path and sees exactly these chunks and batches.
    */
  def embedDocument(
      text: String,
      maxTokens: Int,
      numOverlapSentences: Int,
      batchSize: Int
  ): Vector[(String, Array[Float])] = {
    val chunks = Chunker.split(text, maxTokens, numOverlapSentences)
    val vecs = chunks.grouped(batchSize).flatMap(embedBatch).toVector
    chunks.zip(vecs).map { case (c, v) => (c.replace(Chunker.LeadText, ""), v) }
  }

  /** Query embedding: prepend the asymmetric query task prefix
    * (embedding_service.py:159-164), then embed.
    */
  def embedQuery(text: String): Array[Float] =
    embed(Chunker.QueryLead + text)
}

object EmbeddingModel {

  /** The deterministic feature-hashing kernel's registry name. */
  val DefaultName = "hashing-768"

  /** Config-keyed selection (the `transformer_model_name` seam): the
    * engine resolves `EngineConfig.modelName` here at construction.
    * Unknown names fail loudly at build time, not mid-job.
    */
  def forName(name: String): EmbeddingModel = name match {
    case DefaultName | "default" => Embedder
    case other =>
      throw new IllegalArgumentException(
        s"unknown embedding model '$other' (registered: '$DefaultName'; " +
          "pass a custom EmbeddingModel instance to InceptionEngine for " +
          "unregistered models)")
  }
}
