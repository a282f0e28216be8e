package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.EngineConfig
import graft.embed.{Embedder, EmbeddingModel}
import graft.engine.InceptionEngine
import graft.text.{Chunker, SimpleTokenizer, TextCleaner}

/** The chunker and the chunk-then-embed path as they stood before chunk
  * vectors were composed from sentences, kept as the spec.
  */
object ComposeSpec {

  def splitSentences(
      sentences: Seq[String],
      maxTokens: Int,
      numOverlapSentences: Int
  ): Vector[String] = {
    val leadLen = SimpleTokenizer.countTokens(Chunker.LeadText, addSpecialTokens = true)
    val budget = maxTokens - leadLen
    val keep = math.max(0, numOverlapSentences)
    val chunks = Vector.newBuilder[String]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var currentCount = 0

    def flushCurrent(): Unit =
      if (current.nonEmpty) chunks += (Chunker.LeadText + current.mkString(" "))

    sentences.foreach { sentence =>
      val sentLen = SimpleTokenizer.countTokens(sentence)
      if (sentLen > budget) {
        flushCurrent()
        chunks += (Chunker.LeadText + SimpleTokenizer.truncate(sentence, budget))
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

  def split(text: String, maxTokens: Int, overlap: Int): Vector[String] =
    splitSentences(SplitterSpec.specSplit(text), maxTokens, overlap)

  /** Each chunk without its lead, and its vector's bits. */
  def embedDocument(text: String, maxTokens: Int, overlap: Int): Vector[(String, Vector[Int])] =
    split(text, maxTokens, overlap).map(c =>
      (c.replace(Chunker.LeadText, ""), bits(Embedder.embed(c))))

  def bits(v: Array[Float]): Vector[Int] = v.toVector.map(java.lang.Float.floatToIntBits)
}

/** `Embedder.embedDocument`, which composes chunk vectors from one token
  * scan per sentence, against [[ComposeSpec]]: equal chunk texts and equal
  * vector bits.
  */
object ComposeProps extends Properties("EmbedDocument") {
  import ComposeSpec.bits

  private val leadLen = Chunker.LeadTokens

  private val maxTokensGen: Gen[Int] = Gen.frequency(
    6 -> Gen.chooseNum(12, 64), 2 -> Gen.const(512), 1 -> Gen.chooseNum(1, 11))

  /** A sentence of exactly `n` tokens (`n >= 2`): short words and a period. */
  private def ofTokens(n: Int): String =
    ("Ab" +: Vector.fill(n - 2)("cd")).mkString(" ") + "."

  private val word: Gen[String] = Gen.frequency(
    8 -> Gen.chooseNum(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar)),
    1 -> Gen.oneOf("v.", "No.", "U.S.", "J.", "\u00a75", "caf\u00e9", "x_y",
      "(a)", "\"quoted\"", "12,000", "\u2003", "\u00a0", "search_document:"))

  private def sentence(budget: Int): Gen[String] = Gen.frequency(
    8 -> Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, word))
      .map(ws => ws.mkString(" ").capitalize + "."),
    2 -> Gen.oneOf(budget - 1, budget, budget + 1).map(n => ofTokens(math.max(2, n))),
    1 -> Gen.const("\u2003\u2003\u2029"), // zero tokens
    1 -> Gen.const("It said search_document: here."),
    1 -> Gen.const(Chunker.LeadText))

  private val separator: Gen[String] =
    Gen.oneOf(" ", " ", " ", "\n\n", "  ", "\u2029", "", "\u2003")

  private val case_ : Gen[(String, Int, Int)] = for {
    maxTokens <- maxTokensGen
    overlap <- Gen.chooseNum(0, 3)
    n <- Gen.chooseNum(0, 40)
    parts <- Gen.listOfN(n, Gen.zip(sentence(maxTokens - leadLen), separator))
  } yield (parts.map { case (s, sep) => s + sep }.mkString, maxTokens, overlap)

  private def agrees(text: String, maxTokens: Int, overlap: Int): Prop = {
    val got = Embedder.embedDocument(text, maxTokens, overlap, 8)
      .map { case (c, v) => (c, bits(v)) }
    Prop(got == ComposeSpec.embedDocument(text, maxTokens, overlap) &&
      Chunker.split(text, maxTokens, overlap) == ComposeSpec.split(text, maxTokens, overlap))
  }

  property("composed chunks and vectors equal the chunk-then-embed path") =
    Prop.forAll(case_) { case (text, maxTokens, overlap) =>
      agrees(text, maxTokens, overlap)
    }

  property("composed path on the golden fixture and its adversarial texts") =
    Prop.forAll(
      Gen.oneOf(GoldenFixtureSpec.text +: GoldenFixtureSpec.adversarial),
      maxTokensGen, Gen.chooseNum(0, 3)) { (text, maxTokens, overlap) =>
      agrees(text, maxTokens, overlap)
    }
}

class EmbedDocumentSpec extends AnyFunSuite {
  import EmbedDocumentSpec.Recorder

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a maxTokens too large for exact counts takes the chunk-then-embed path") {
    val text = GoldenFixtureSpec.text * 3
    val got = Embedder.embedDocument(text, Int.MaxValue, 2, 8)
      .map { case (c, v) => (c, ComposeSpec.bits(v)) }
    assert(got == ComposeSpec.embedDocument(text, Int.MaxValue, 2))
  }

  test("a chunk of 10k zero-token sentences, and the next document on the same thread") {
    val huge = "Opening words. " + ("\u2003\u2029" * 10000) + "Closing words."
    for (text <- Seq(huge, GoldenFixtureSpec.text)) {
      val got = Embedder.embedDocument(text, 512, 2, 8)
        .map { case (c, v) => (c, ComposeSpec.bits(v)) }
      assert(got == ComposeSpec.embedDocument(text, 512, 2))
    }
  }

  test("model seam: a custom model gets the lead-prefixed Chunker.split chunks in processingBatchSize batches") {
    import spark.implicits._
    val conf = EngineConfig(maxTokens = 40, processingBatchSize = 3)
    val texts = (GoldenFixtureSpec.text +: GoldenFixtureSpec.adversarial)
      .filter(t => TextCleaner.strippedLength(t) >= conf.minTextLength)
    val df = texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }
      .toDF("doc_id", "text").coalesce(1)
    Recorder.batches.clear()
    val rows = new InceptionEngine(conf, modelOverride = Some(Recorder))
      .embedDocuments(df).collect().sortBy(_.doc_id)
    val expected = texts.map(t =>
      Chunker.split(t, conf.maxTokens, conf.numOverlapSentences))
    // documents may run on different threads: compare the batches as a multiset
    val want = expected.flatMap(_.grouped(conf.processingBatchSize).map(_.toVector))
    val got = Recorder.batches.asScala.toVector
    assert(got.sortBy(_.mkString("\u0000")) == want.sortBy(_.mkString("\u0000")))
    assert(rows.map(_.embeddings.map(_.chunk)).toVector ==
      expected.map(_.map(_.replace(Chunker.LeadText, ""))))
    rows.zip(texts).foreach { case (row, t) =>
      assert(row.embeddings.map(e => ComposeSpec.bits(e.embedding)) ==
        ComposeSpec.embedDocument(t, conf.maxTokens, conf.numOverlapSentences).map(_._2))
    }
  }
}

object EmbedDocumentSpec {

  /** The hashing kernel behind the default seam, recording every batch. */
  object Recorder extends EmbeddingModel {
    val batches = new ConcurrentLinkedQueue[Vector[String]]()
    def dim: Int = Embedder.dim
    def embed(text: String): Array[Float] = Embedder.embed(text)
    override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
      batches.add(texts.toVector)
      texts.map(embed)
    }
  }
}
