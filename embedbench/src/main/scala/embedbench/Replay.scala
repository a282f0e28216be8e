package embedbench

import graft.config.EngineConfig
import graft.embed.Embedder
import graft.text.{Chunker, SentenceSplitter, SimpleTokenizer, TextCleaner}

/** Counters of one single-threaded replay through the text and embed
  * functions. Self times come from the replay's spans.
  */
final class ReplayCounts {
  var splitterCalls, sentences = 0L
  var chunkerCalls, chunks = 0L
  /** Chunk tokens as the chunker budgets them (lead and special tokens in). */
  var chunkBudgetTokens = 0L
  /** Chunk tokens after the lead: sentence tokens plus overlap re-sent. */
  var chunkBodyTokens = 0L
  var tokenizerCalls, tokens = 0L
  var embedderBatches, embedderTexts, embedderChars = 0L
  var cleanerCalls = 0L
}

/** Replays inputs through the same public functions the engine calls, in
  * the order it calls them, with one span per call. Nothing here runs in
  * Spark: it isolates each text layer's own cost on one thread.
  */
object Replay {

  /** Documents as `embedDocuments` processes one: split into sentences,
    * pack into chunks, embed in groups of `processingBatchSize`. The
    * tokenizer is replayed standalone over the same sentences (inside
    * the chunker its cost is part of the chunker's self time).
    */
  def documents(docs: Seq[GenDoc], conf: EngineConfig, tr: Tracer): ReplayCounts = {
    val c = new ReplayCounts
    val mt = conf.maxTokens
    val ov = conf.numOverlapSentences
    val leadTokens = SimpleTokenizer.countTokens(Chunker.LeadText)
    docs.foreach { d =>
      val req = s"replay-doc-${d.id}"
      tr.span("replay.doc", req) { root =>
        val sents = tr.span("splitter", req, root)(_ => SentenceSplitter.split(d.text))
        c.splitterCalls += 1
        c.sentences += sents.length
        val chunks = tr.span("chunker", req, root)(_ =>
          Chunker.splitSentences(sents, mt, ov))
        c.chunkerCalls += 1
        c.chunks += chunks.length
        sents.foreach { s =>
          val n = tr.span("tokenizer", req, root)(_ => SimpleTokenizer.encode(s)).length
          c.tokenizerCalls += 1
          c.tokens += n
        }
        chunks.foreach { ch =>
          val n = SimpleTokenizer.countTokens(ch)
          c.chunkBudgetTokens += n + SimpleTokenizer.NumSpecialTokens
          c.chunkBodyTokens += n - leadTokens
        }
        chunks.grouped(conf.processingBatchSize).foreach { batch =>
          tr.span("embedder", req, root)(_ => Embedder.embedBatch(batch))
          c.embedderBatches += 1
          c.embedderTexts += batch.length
          c.embedderChars += batch.iterator.map(_.length.toLong).sum
        }
      }
    }
    c
  }

  /** Valid queries as `embedQuery` processes one: clean, then embed with
    * the query prefix.
    */
  def queries(qs: Seq[GenQuery], tr: Tracer): ReplayCounts = {
    val c = new ReplayCounts
    qs.iterator.zipWithIndex.foreach { case (q, i) =>
      val req = s"replay-query-$i"
      tr.span("replay.query", req) { root =>
        val cleaned = tr.span("cleaner", req, root)(_ => TextCleaner.cleanString(q.text))
        c.cleanerCalls += 1
        val text = Chunker.QueryLead + cleaned
        tr.span("embedder", req, root)(_ => Embedder.embedBatch(Seq(text)))
        c.embedderBatches += 1
        c.embedderTexts += 1
        c.embedderChars += text.length
      }
    }
    c
  }
}
