package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Chunker, SentenceSplitter, SimpleTokenizer}

/** Chunker invariants ported from the reference's test suite
  * (tests/test_embedding_service.py:265-476) as ScalaCheck properties —
  * pure-function tests, no Spark (SURVEY.md §5).
  */
object ChunkerProps extends Properties("Chunker") {

  private val word: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))

  private val sentence: Gen[String] = for {
    n <- Gen.chooseNum(1, 20)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ").capitalize + "."

  private val sentenceList: Gen[List[String]] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, sentence))

  private val leadLen =
    SimpleTokenizer.countTokens(Chunker.LeadText, addSpecialTokens = true)

  // ref :286-289,359-362,433-436
  property("every chunk re-encodes to <= max_tokens") =
    Prop.forAll(sentenceList, Gen.oneOf(15, 32, 64, 512)) { (sents, maxTokens) =>
      Chunker.splitSentences(sents, maxTokens, 2).forall { c =>
        SimpleTokenizer.countTokens(c, addSpecialTokens = true) <= maxTokens
      }
    }

  // ref :292-295
  property("every chunk starts with the search_document lead") =
    Prop.forAll(sentenceList) { sents =>
      Chunker.splitSentences(sents, 64, 2)
        .forall(_.startsWith(Chunker.LeadText))
    }

  // ref :309-315 (overlap off → exact content partition)
  property("lossless content without overlap") =
    Prop.forAll(sentenceList) { sents =>
      val fits = sents.filter(s =>
        leadLen + SimpleTokenizer.encode(s).length <= 64)
      val got = Chunker.splitSentences(fits, 64, 0)
        .map(_.stripPrefix(Chunker.LeadText))
        .mkString(" ").replaceAll("\\s", "")
      got == fits.mkString(" ").replaceAll("\\s", "")
    }

  // content never invented, only possibly truncated
  property("no content invented") =
    Prop.forAll(sentenceList) { sents =>
      val inWords =
        sents.mkString(" ").split("\\s+").count(_.nonEmpty)
      val outWords = Chunker.splitSentences(sents, 64, 0)
        .map(_.stripPrefix(Chunker.LeadText))
        .mkString(" ").split("\\s+").count(_.nonEmpty)
      outWords <= inWords
    }

  property("tokenizer round-trip: decode(encode(s)) == s for trimmed s") =
    Prop.forAll(sentence) { s =>
      SimpleTokenizer.decode(SimpleTokenizer.encode(s)) == s
    }

  property("tokenizer additivity: count(a + ' ' + b) == count(a) + count(b)") =
    Prop.forAll(sentence, sentence) { (a, b) =>
      SimpleTokenizer.encode(a + " " + b).length ==
        SimpleTokenizer.encode(a).length + SimpleTokenizer.encode(b).length
    }

  // U+2003 / U+3000 / U+2028 are whitespace to the tokenizer (and U+2003 /
  // U+3000 survive String.trim); U+00A0 is not whitespace to it
  private val mixedWs: Gen[String] =
    Gen.listOf(Gen.frequency(
      4 -> Gen.asciiPrintableStr,
      1 -> Gen.oneOf(" ", "\t", "\n", "\u2003", "\u3000", "\u2028", "\u00a0")
    )).map(_.mkString)

  property("tokenizer scan: truncate and countTokens agree with encode") =
    Prop.forAll(mixedWs, Gen.chooseNum(-1, 40)) { (s, n) =>
      val pieces = SimpleTokenizer.encode(s)
      SimpleTokenizer.truncate(s, n) == SimpleTokenizer.decode(pieces.take(n)) &&
        SimpleTokenizer.countTokens(s) == pieces.length
    }

  // --- splitter: the tail scan against the regex predicate it replaced ---

  // The abbreviation test as it stood before the tail scan, kept verbatim
  // as the spec: an unanchored regex over the span, then the standalone,
  // abbreviation-set and name-position rules.
  private object RegexSpec {
    private val Abbreviations = Set(
      "vs", "no", "nos", "mr", "mrs", "ms", "dr", "prof", "rev", "hon",
      "jr", "sr", "st", "etc", "inc", "ltd", "co", "corp", "dept", "div",
      "est", "fig", "figs", "vol", "vols", "sec", "art", "ch", "para",
      "pp", "cf", "al", "ca", "approx", "jan", "feb", "mar", "apr", "jun",
      "jul", "aug", "sep", "sept", "oct", "nov", "dec")

    private val AbbrevTail = """([A-Za-z]+)\.\s*$""".r

    def endsWithAbbreviation(s: CharSequence): Boolean =
      AbbrevTail.findFirstMatchIn(s) match {
        case Some(m) =>
          val tok = m.group(1)
          val at = m.start(1)
          val standalone = at == 0 || !Character.isLetter(s.charAt(at - 1))
          if (!standalone) false
          else if (tok.length > 1)
            Abbreviations.contains(tok.toLowerCase(java.util.Locale.ROOT))
          else if (Character.isLowerCase(tok.charAt(0))) true
          else prevWordIsCapitalized(s, at)
        case None => false
      }

    private def prevWordIsCapitalized(s: CharSequence, at: Int): Boolean = {
      var i = at - 1
      while (i >= 0 && !Character.isLetterOrDigit(s.charAt(i))) i -= 1
      if (i < 0) false
      else {
        var j = i
        while (j >= 0 && Character.isLetterOrDigit(s.charAt(j))) j -= 1
        Character.isUpperCase(s.charAt(j + 1))
      }
    }

    def split(text: String): Vector[String] = {
      if (text == null || text.isEmpty) return Vector.empty
      val it = java.text.BreakIterator.getSentenceInstance(java.util.Locale.US)
      it.setText(text)
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var start = it.first()
      var end = it.next()
      while (end != java.text.BreakIterator.DONE) {
        if (spans.nonEmpty &&
            endsWithAbbreviation(
              java.nio.CharBuffer.wrap(text, spans.last._1, spans.last._2)))
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

  // abbreviations, initials in and out of name position, a non-ASCII letter
  // before an ASCII run, CRLF and the three non-ASCII line terminators
  private val splitterPiece: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("v.", "No.", "Inc.", "etc.", "John F. Kennedy",
      "vitamin C.", "\u00e9.", "a\u00e9.", "\u00e9a.", "schools.", "p.",
      "A.", "B.", "5.", "U.S.", ".", "(", ")", "\"", "The", "Board",
      "Smith", "court"),
    3 -> word,
    1 -> Gen.oneOf("\r\n", "\n", "\r", "\t", "\u000b", "\f", "\u0085",
      "\u2028", "\u2029", "\u00a0", "\u3000"))

  private val splitterSep: Gen[String] =
    Gen.oneOf(" ", " ", " ", "", "  ", "\r\n", "\n", "\u0085", "\u2028",
      "\u2029", ". ")

  private def splitterText(maxPieces: Int): Gen[String] = for {
    n <- Gen.chooseNum(0, maxPieces)
    ps <- Gen.listOfN(n, Gen.zip(splitterPiece, splitterSep))
  } yield ps.map { case (p, sep) => p + sep }.mkString

  property("splitter: tail scan splits exactly like the regex predicate") =
    Prop.forAll(splitterText(40)) { t =>
      SentenceSplitter.split(t) == RegexSpec.split(t)
    }

  property("splitter: tail scan agrees with the regex on every span") =
    Prop.forAll(splitterText(8)) { t =>
      (0 to t.length).forall { from =>
        (from to t.length).forall { to =>
          SentenceSplitter.endsWithAbbreviation(t, from, to) ==
            RegexSpec.endsWithAbbreviation(java.nio.CharBuffer.wrap(t, from, to))
        }
      }
    }
}

class ChunkerSpec extends AnyFunSuite {

  private val leadLen =
    SimpleTokenizer.countTokens(Chunker.LeadText, addSpecialTokens = true)

  test("truncation mode: oversized sentence becomes its own truncated chunk (ref :330-401)") {
    val maxTokens = 15
    val sents = List(
      "This extraordinarily elaborate sentence contains numerous polysyllabic constructions exceeding every budget.",
      "Short one.",
      "Another modest sentence here.")
    val chunks = Chunker.splitSentences(sents, maxTokens, 0)
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      assert(SimpleTokenizer.countTokens(c, addSpecialTokens = true) <= maxTokens)
    }
    val first = chunks.head.stripPrefix(Chunker.LeadText)
    assert(sents.head.startsWith(first.take(10)))
    assert(first.length < sents.head.length) // actually truncated
  }

  test("oversized sentence flushes pending chunk and resets overlap (ref embedding_service.py:100-113)") {
    val big = ("word " * 100).trim.capitalize + "."
    val sents = List("Small leading sentence.", big, "Trailing sentence.")
    val chunks = Chunker.splitSentences(sents, 32, 2)
    assert(chunks.length == 3)
    assert(chunks(0).contains("Small leading sentence."))
    assert(chunks(2).contains("Trailing sentence."))
    assert(!chunks(2).contains("word")) // no overlap carried over truncation
  }

  test("overlap mode: last sentence of chunk i == first sentence of chunk i+1 (ref :404-476)") {
    val sents = (1 to 12).map(i =>
      s"Sentence number $i carries some recognizable payload words.").toList
    val perSent = SimpleTokenizer.encode(sents.head).length
    val maxTokens = leadLen + perSent * 2 + 1 // ~2 sentences per chunk
    val chunks = Chunker.splitSentences(sents, maxTokens, 1)
    assert(chunks.length > 1)
    chunks.sliding(2).foreach {
      case Vector(a, b) =>
        val aSents = a.stripPrefix(Chunker.LeadText)
          .split("(?<=\\.)\\s+").filter(_.nonEmpty)
        val bSents = b.stripPrefix(Chunker.LeadText)
          .split("(?<=\\.)\\s+").filter(_.nonEmpty)
        assert(aSents.last == bSents.head, s"overlap broken: '$a' → '$b'")
      case _ => ()
    }
  }

  test("overlap-would-overflow starts clean chunk (ref embedding_service.py:128-133)") {
    // two near-budget sentences: overlap of s1 + s2 would blow the budget,
    // so chunk 2 must NOT contain s1
    val s1 = ("alpha " * 20).trim.capitalize + "."
    val s2 = ("beta " * 20).trim.capitalize + "."
    val perSent = SimpleTokenizer.encode(s1).length
    val maxTokens = leadLen + perSent + 2
    val chunks = Chunker.splitSentences(List(s1, s2), maxTokens, 2)
    assert(chunks.length == 2)
    assert(!chunks(1).contains("alpha"))
  }

  test("empty input produces no chunks") {
    assert(Chunker.splitSentences(Nil, 512, 2).isEmpty)
    assert(Chunker.split("", 512, 2).isEmpty)
  }

  test("chunk_packing construction round-trips through the splitter") {
    // multi-sentence prose built from the lowercase corpus: 8-word groups,
    // first word capitalized, 'end.' terminator. The splitter must recover
    // the CONSTRUCTED sentence list exactly — break at every
    // '. '+uppercase (UAX#29) and merge nothing ('end' is multi-letter and
    // not in the abbreviation inventory).
    val words = ("key agg row scan slow fast table value part hash merge " +
      "batch a the line sort window spark order data column customer")
      .split(" ").toVector
    val sents = words.grouped(8).map(g =>
      g.mkString(" ").capitalize + " end.").toVector
    val text2 = sents.mkString(" ")
    assert(SentenceSplitter.split(text2) == sents)
    // and packing at 48 tokens with 2 overlap sentences exercises the
    // overlap carry: chunk i+1 opens with the last 2 sentences of chunk i
    val chunks = Chunker.splitSentences(
      Vector.fill(4)(sents).flatten, 48, 2)
    assert(chunks.length > 1)
    chunks.sliding(2).foreach {
      case Vector(a, b) =>
        val aS = a.stripPrefix(Chunker.LeadText)
          .split("(?<=\\.)\\s+").filter(_.nonEmpty)
        val bS = b.stripPrefix(Chunker.LeadText)
          .split("(?<=\\.)\\s+").filter(_.nonEmpty)
        assert(aS.takeRight(2).sameElements(bS.take(2)))
      case _ => ()
    }
  }

  test("sentence splitter handles legal-style prose (SURVEY.md §7.4.3)") {
    val text = "We conclude that in the field of public education the " +
      "doctrine of \"separate but equal\" has no place. Separate " +
      "educational facilities are inherently unequal. Therefore, we hold " +
      "that the plaintiffs are deprived of the equal protection of the laws."
    val sents = SentenceSplitter.split(text)
    assert(sents.length == 3)
    assert(sents.mkString(" ").replaceAll("\\s", "") ==
      text.replaceAll("\\s", ""))
  }
}
