package graft

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.config.EngineConfig
import graft.embed.Embedder
import graft.engine.{InceptionEngine, Metrics}
import graft.text.Chunker

/** Row routing at the flagship boundary over generated frames: null,
  * duplicate and non-integer ids, null / empty / whitespace-only /
  * over-length / valid texts, and raw bytes with invalid UTF-8 spliced
  * in. Every row is labelled once or embedded, and no input fails the
  * job. Labels come from a test-local spec (the regex strip,
  * `toLongOption` and a strict JDK decoder), not from the engine's own
  * helpers.
  */
object BoundaryProps extends Properties("Boundary") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Small documents, several chunks each, with overlap. */
  private val conf = EngineConfig(maxTokens = 32, overlapRatio = 0.07,
    maxTextLength = 200)

  final case class Row(doc_id: String, text: String, row: Int)

  final case class RawRow(doc_id: Long, raw: Array[Byte], row: Int)

  private val ws = Seq(" ", "\t", "\n", "\u00A0", "\u3000", "\u2003", "\u0085")

  private val pad: Gen[String] =
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(ws)).map(_.mkString))

  /** `n` chars of sentence-ish text that start and end on a letter. */
  private def body(n: Int): Gen[String] =
    Gen.listOfN(n, Gen.frequency(8 -> Gen.alphaLowerChar, 2 -> Gen.const(' '),
        1 -> Gen.oneOf('.', '?', ','), 1 -> Gen.oneOf('é', '§')))
      .map { cs =>
        val a = cs.toArray
        a(0) = 'a'
        a(n - 1) = 'z'
        new String(a)
      }

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.const(""),
    2 -> Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(ws)).map(_.mkString)),
    2 -> Gen.chooseNum(201, 320).flatMap(body),
    2 -> Gen.oneOf(200, 201).flatMap(body),
    8 -> Gen.chooseNum(1, 200).flatMap(body)
  ).flatMap(t => if (t == null) Gen.const(t) else pad.flatMap(p => pad.map(q => p + t + q)))

  private val id: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.oneOf("abc", "x1", "1.5e", ""),
    3 -> Gen.chooseNum(1, 6).map(_.toString), // duplicates
    3 -> Gen.chooseNum(100L, Long.MaxValue).map(_.toString)
  )

  private val frame: Gen[(Vector[Row], Boolean)] = for {
    n <- Gen.chooseNum(1, 24)
    ids <- Gen.listOfN(n, id)
    texts <- Gen.listOfN(n, text)
    onePartition <- Gen.oneOf(true, false)
  } yield (ids.lazyZip(texts).lazyZip(0 until n).map(Row).toVector, onePartition)

  /** Byte sequences no UTF-8 decoder may accept: a lone continuation
    * byte, a truncated 3-byte sequence, an overlong '/', an encoded
    * surrogate (U+D800) and a byte that never occurs in UTF-8.
    */
  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Seq(0x80), Seq(0xE2, 0x82), Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xFF)
  ).map(_.map(_.toByte).toArray)

  /** A generated text's UTF-8 bytes with 0-3 invalid sequences spliced in
    * at any byte offset, inside a multi-byte char included.
    */
  private val raw: Gen[Array[Byte]] = text.flatMap { t =>
    if (t == null) Gen.const(null: Array[Byte])
    else Gen.chooseNum(0, 3)
      .flatMap(n => Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, Int.MaxValue), Gen.oneOf(invalidUtf8))))
      .map(_.foldLeft(t.getBytes(UTF_8)) { case (b, (at, seq)) =>
        val i = at % (b.length + 1)
        b.take(i) ++ seq ++ b.drop(i)
      })
  }

  private val rawFrame: Gen[(Vector[RawRow], Boolean)] = for {
    n <- Gen.chooseNum(1, 24)
    raws <- Gen.listOfN(n, raw)
    onePartition <- Gen.oneOf(true, false)
  } yield (raws.zipWithIndex.map { case (b, i) => RawRow(i.toLong, b, i) }.toVector, onePartition)

  // ---- the spec ----

  /** The JDK's strict decode: None when any byte sequence is malformed;
    * a null input decodes to null.
    */
  private def strictDecode(b: Array[Byte]): Option[String] =
    if (b == null) Some(null)
    else try Some(UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(ByteBuffer.wrap(b)).toString)
    catch { case _: CharacterCodingException => None }

  private val StripRegex = "(?U)^\\s+|\\s+$"

  private def specLength(t: String): Int =
    if (t == null) 0
    else { val s = t.replaceAll(StripRegex, ""); s.codePointCount(0, s.length) }

  private def specLabel(id: Option[Long], t: String): Option[String] =
    if (id.isEmpty) Some("validation_error")
    else {
      val n = specLength(t)
      if (n < conf.minTextLength) Some("text_too_short")
      else if (n > conf.maxTextLength) Some("text_too_long")
      else None
    }

  private def specId(id: String): Option[Long] = Option(id).flatMap(_.toLongOption)

  /** A doc's rows as the engine must return them: chunk text without the
    * lead, vector bits.
    */
  private def direct(id: Long, t: String): (Long, Vector[String], Vector[Vector[Int]]) = {
    val chunks = Chunker.split(t, conf.maxTokens, conf.numOverlapSentences)
    (id, chunks.map(_.replace(Chunker.LeadText, "")).toVector,
      Embedder.embedBatch(chunks).map(_.toVector.map(java.lang.Float.floatToIntBits)).toVector)
  }

  /** Spark's string `max`: unsigned UTF-8 byte order, nulls ignored. */
  private def maxText(ts: Seq[String]): String =
    ts.filter(_ != null).maxByOption(_.getBytes(UTF_8))(
      (a, b) => java.util.Arrays.compareUnsigned(a, b)).orNull

  private def toDf(rows: Vector[Row], onePartition: Boolean): DataFrame = {
    import spark.implicits._
    val df = rows.toDF()
    if (onePartition) df.coalesce(1) else df
  }

  private def embedded(engine: InceptionEngine, df: DataFrame, dedupe: Boolean) =
    engine.embedDocuments(df, dedupeIds = dedupe).collect().toVector.map { d =>
      (d.doc_id, d.embeddings.map(_.chunk).toVector,
        d.embeddings.map(_.embedding.toVector.map(java.lang.Float.floatToIntBits)).toVector)
    }.sortBy(d => (d._1, d._2.mkString("\u0000")))

  property("withValidation labels every row once, with the spec's label") =
    Prop.forAll(frame) { case (rows, one) =>
      val got = new InceptionEngine(conf).withValidation(toDf(rows, one))
        .select("row", "error_type").collect()
        .map(r => r.getInt(0) -> Option(r.getString(1)))
      got.map(_._1).sorted.toSeq == rows.map(_.row) &&
        got.toMap == rows.map(r => r.row -> specLabel(specId(r.doc_id), r.text)).toMap
    }

  property("embedDocuments returns exactly the valid rows, as direct Chunker + Embedder") =
    Prop.forAll(frame) { case (rows, one) =>
      val engine = new InceptionEngine(conf)
      val df = toDf(rows, one)
      val plain = rows.flatMap { r =>
        val i = specId(r.doc_id)
        if (specLabel(i, r.text).isEmpty) Some(direct(i.get, r.text)) else None
      }.sortBy(d => (d._1, d._2.mkString("\u0000")))
      // dedupe groups on the cast id (all bad ids form one group) and
      // keeps max(text)
      val deduped = rows.groupBy(r => specId(r.doc_id)).toVector.flatMap {
        case (i, group) =>
          val t = maxText(group.map(_.text))
          if (specLabel(i, t).isEmpty) Some(direct(i.get, t)) else None
      }.sortBy(d => (d._1, d._2.mkString("\u0000")))
      (embedded(engine, df, dedupe = false) == plain) :| "dedupeIds = false" &&
        (embedded(engine, df, dedupe = true) == deduped) :| "dedupeIds = true"
    }

  property("ERROR_COUNT counts each invalid row exactly once") =
    Prop.forAll(frame) { case (rows, one) =>
      val m = new Metrics(spark.sparkContext)
      new InceptionEngine(conf, Some(m)).withValidation(toDf(rows, one))
        .select(col("row"), col("error_type")).collect()
      val want = rows.flatMap(r => specLabel(specId(r.doc_id), r.text))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = m.snapshot.collect {
        case (k, v) if k.startsWith("error_count.batch.") && v > 0 =>
          k.stripPrefix("error_count.batch.") -> v
      }
      (got == want) :| s"counted $got, want $want"
    }

  property("decodeUtf8 routes exactly the strictly invalid rows to decode_error") =
    Prop.forAll(rawFrame) { case (rows, one) =>
      import spark.implicits._
      val m = new Metrics(spark.sparkContext)
      val df = if (one) rows.toDF().coalesce(1) else rows.toDF()
      val got = new InceptionEngine(conf, Some(m)).decodeUtf8(df, "raw")
        .select("row", "text", "error_type").collect()
        .map(r => r.getInt(0) -> (Option(r.getString(1)), Option(r.getString(2))))
        .toMap
      val want = rows.map(r => r.row -> (strictDecode(r.raw) match {
        case Some(t) => (Option(t), None)
        case None => (None, Some("decode_error"))
      })).toMap
      val disagree = rows.filter(r => got.get(r.row) != want.get(r.row))
        .map(r => Option(r.raw).map(_.map(b => f"${b & 0xFF}%02X").mkString(" ")).orNull)
      val rejected = want.values.count(_._2.isDefined).toLong
      val counted = m.snapshot.getOrElse("error_count.text.decode_error", 0L)
      (got == want) :| s"rows the spec decodes otherwise: $disagree" &&
        (counted == rejected) :| s"counted $counted, want $rejected"
    }
}
