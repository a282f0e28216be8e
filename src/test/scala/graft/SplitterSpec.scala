package graft

import java.text.BreakIterator
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.text.SentenceSplitter

/** The splitter's ASCII sentence DFA against `BreakIterator` itself, and
  * the whole split against the BreakIterator-only split it replaced.
  */
class SplitterSpec extends AnyFunSuite {
  import SplitterSpec._

  /** One char per ASCII category: `,` `.` `"` `!` `A` `a` other `0` `)`
    * `(` whitespace.
    */
  private val Representatives = ",.\"!Aa#0)( "

  private def representative(c: Char): Char = c match {
    case ',' => ','
    case '.' => '.'
    case '"' | '\'' => '"'
    case '!' | '?' => '!'
    case _ if c >= 'A' && c <= 'Z' => 'A'
    case _ if c >= 'a' && c <= 'z' => 'a'
    case _ if c >= '0' && c <= '9' => '0'
    case ')' | ']' | '}' => ')'
    case '(' | '[' | '{' => '('
    case '\t' | '\n' | '\f' | '\r' | ' ' => ' '
    case _ => '#'
  }

  test("every ASCII char breaks like its category's representative") {
    val contexts = Seq("X", "aX", "Xa", "a.X", "a. X", "a.X b", "a. X b",
      "a.X A", "a. X A", "a.\"X A", "a!X A", "a?X", "a.)X A", "(X", "a. (X",
      "A.X", "1.X", "a.  X. A", "a, X. B", "X. A", "a.X.", "Ab.XX A",
      "a.X\"A", "a!X\" B", "a. X1", "a.X(b", "A? X)")
    val bi = BreakIterator.getSentenceInstance(Locale.US)
    for (c <- 0 until 128; ctx <- contexts) {
      val s = ctx.replace('X', c.toChar)
      val r = ctx.replace('X', representative(c.toChar))
      val want = breakIteratorBreaks(bi, s)
      assert(want == breakIteratorBreaks(bi, r), s"char $c in '$ctx'")
      assert(dfaBreaks(s) == want, s"char $c in '$ctx'")
    }
  }

  test("every string of up to 6 representatives breaks like BreakIterator") {
    val bi = BreakIterator.getSentenceInstance(Locale.US)
    val k = Representatives.length
    var checked = 0
    for (len <- 1 to 6) {
      val digits = new Array[Int](len)
      val chars = new Array[Char](len)
      var more = true
      while (more) {
        var i = 0
        while (i < len) { chars(i) = Representatives.charAt(digits(i)); i += 1 }
        val s = new String(chars)
        assert(dfaBreaks(s) == breakIteratorBreaks(bi, s), s"'$s'")
        checked += 1
        // next string: odometer over the representatives
        i = len - 1
        while (i >= 0 && digits(i) == k - 1) { digits(i) = 0; i -= 1 }
        if (i < 0) more = false else digits(i) += 1
      }
    }
    assert(checked == (1 to 6).map(n => math.pow(k, n).toInt).sum)
  }

  test("200k seeded random ASCII strings break like BreakIterator") {
    val bi = BreakIterator.getSentenceInstance(Locale.US)
    val r = new java.util.SplittableRandom(20261020L)
    val hot = ".!?\"'()[]{}, \n\tAa0"
    for (_ <- 1 to 200000) {
      val s = Array.fill(1 + r.nextInt(200)) {
        if (r.nextBoolean()) hot.charAt(r.nextInt(hot.length))
        else r.nextInt(128).toChar
      }.mkString
      assert(dfaBreaks(s) == breakIteratorBreaks(bi, s), s"'$s'")
    }
  }

  test("opinion-style and snippet-style text splits like the BreakIterator split") {
    val r = new java.util.SplittableRandom(7L)
    val texts = Vector.fill(60)(opinionStyle(r, 4000)) ++
      Vector.fill(600)(opinionStyle(r, 50 + r.nextInt(551)))
    texts.foreach { t =>
      assert(t.forall(_ < 0x80))
      assert(SentenceSplitter.split(t) == specSplit(t), t.take(80))
    }
    (GoldenFixtureSpec.text +: GoldenFixtureSpec.adversarial).foreach { t =>
      assert(SentenceSplitter.split(t) == specSplit(t), t.take(80))
    }
  }

  test("non-ASCII text keeps BreakIterator") {
    val texts = Seq("a.\u2029b", "\u00a7 5. The court held. It\u2019s done.",
      "He said \u201cstop.\u201d Then he left. \u2018Why?\u2019 she asked.",
      "No. 5 \u00e9tait. Mr. Smith v. Jones left.\u2003 Next.",
      "\u2029\u2003 Leading separators. Then text.")
    texts.foreach(t => assert(SentenceSplitter.split(t) == specSplit(t), t))
  }
}

object SplitterSpec {

  /** `SentenceSplitter.split` as it stood with BreakIterator on every
    * text, kept verbatim as the spec.
    */
  def specSplit(text: String): Vector[String] = {
    if (text == null || text.isEmpty) return Vector.empty
    val it = BreakIterator.getSentenceInstance(Locale.US)
    it.setText(text)
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = it.first()
    var end = it.next()
    while (end != BreakIterator.DONE) {
      if (spans.nonEmpty &&
          SentenceSplitter.endsWithAbbreviation(text, spans.last._1, spans.last._2))
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

  def breakIteratorBreaks(bi: BreakIterator, s: String): Vector[Int] = {
    bi.setText(s)
    bi.first()
    Iterator.continually(bi.next()).takeWhile(_ != BreakIterator.DONE).toVector
  }

  def dfaBreaks(s: String): Vector[Int] = {
    val out = Vector.newBuilder[Int]
    var at = 0
    while (at < s.length) {
      at = SentenceSplitter.nextBoundary(s, at)
      out += at
    }
    out.result()
  }

  private val Words = ("the court held that plaintiff appellant motion " +
    "judgment evidence statute section federal district appeal review " +
    "de novo finding law contract damages order habeas corpus remand " +
    "reverse affirm standing negligence because however whether under")
    .split(' ')

  private val Citations = Array("Brown v. Board, 347 U.S. 483 (1954)",
    "Smith v. Jones, 12 F.3d 44, 46 (9th Cir. 1999)", "No. 4521",
    "Id. at 12", "42 U.S.C. 1983(a)", "Mr. Justice Harris",
    "see J. R. Smith, supra", "(quoting \"the rule\")", "[sic]", "e.g.")

  /** ASCII legal prose of about `target` chars: sentences with
    * citations, quotations, parentheses, abbreviations and initials,
    * separated by spaces and blank lines, some ending `?` or `!`.
    */
  def opinionStyle(r: java.util.SplittableRandom, target: Int): String = {
    val sb = new StringBuilder
    while (sb.length < target) {
      val n = 3 + r.nextInt(25)
      val words = Vector.fill(n) {
        if (r.nextInt(8) == 0) Citations(r.nextInt(Citations.length))
        else Words(r.nextInt(Words.length))
      }
      val s = words.mkString(if (r.nextInt(6) == 0) ", " else " ")
      sb.append(s.capitalize).append(r.nextInt(12) match {
        case 0 => "?"
        case 1 => "!"
        case 2 => ".\""
        case 3 => ".)"
        case _ => "."
      })
      sb.append(r.nextInt(10) match {
        case 0 => "\n\n"
        case 1 => "  "
        case 2 => ""
        case _ => " "
      })
    }
    sb.toString.trim
  }
}
