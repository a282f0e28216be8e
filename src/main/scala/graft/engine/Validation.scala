package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.text.TextCleaner

/** O1 + O12 — validation predicates and the engine error taxonomy.
  *
  * The reference raises per-document exceptions mapped to HTTP statuses
  * (inception/utils.py:84-157). A DataFrame engine instead routes invalid
  * rows to an `error_type` column (null = valid), with the same labels the
  * reference increments on `ERROR_COUNT`:
  *   - `text_too_short`  (utils.py:96-103)
  *   - `text_too_long` / `query_too_long` (utils.py:105-116)
  *   - `validation_error` — empty after cleaning (utils.py:73-81 via
  *     handle_exception's ValueError branch, utils.py:133-140), and a
  *     document whose id is null or not an integer, with the fixed
  *     `error` [[InvalidIdMessage]] (the reference's 422 for a non-int
  *     `TextRequest.id`, schemas.py:4-15)
  *   - `decode_error`, `gpu_error`, `processing_error` — the remaining
  *     branches of utils.py:119-157, surfaced for API completeness.
  *
  * Every length check is [[TextCleaner.strippedLength]], the one scalar
  * walk, lifted into Column expressions as a named UDF; null text counts
  * as length 0. The document endpoints' `error_type` is a single UDF
  * call per row, so a filter on it measures each document once.
  */
object Validation {

  sealed trait EngineError { def label: String }
  case object TextTooShort extends EngineError { val label = "text_too_short" }
  case object TextTooLong extends EngineError { val label = "text_too_long" }
  case object QueryTooLong extends EngineError { val label = "query_too_long" }
  case object ValidationError extends EngineError { val label = "validation_error" }
  case object DecodeError extends EngineError { val label = "decode_error" }
  case object GpuError extends EngineError { val label = "gpu_error" }
  case object ProcessingError extends EngineError { val label = "processing_error" }

  /** The `error` of a row routed to `validation_error` because its id is
    * null or does not cast to a long.
    */
  val InvalidIdMessage = "Document id must be an integer"

  /** `error_type` expression for the document/batch endpoints
    * (`endpoint != "query"`: max = maxTextLength, label "text_too_long",
    * utils.py:105-110). Null when valid. One opaque UDF call
    * (`graft_text_error_type`) that measures the text once: written as a
    * CASE over the length, the optimizer copies the length into each
    * branch of a filter on it.
    */
  def textErrorType(text: Column, conf: EngineConfig): Column = {
    val min = conf.minTextLength
    val max = conf.maxTextLength
    udf { (t: String) =>
      val len = TextCleaner.strippedLength(t)
      if (len < min) TextTooShort.label
      else if (len > max) TextTooLong.label
      else null
    }.withName("graft_text_error_type")(text)
  }

  /** `error_type` expression for the query endpoint (max = maxQueryLength,
    * label "query_too_long", utils.py:105-110) plus the O3
    * empty-after-cleaning check that queries go through
    * (embedding_service.py:156).
    */
  def queryErrorType(text: Column, conf: EngineConfig): Column = {
    val len = TextCleaner.strippedLength(text)
    when(len < conf.minTextLength, TextTooShort.label)
      .when(len > conf.maxQueryLength, QueryTooLong.label)
      .when(
        !TextCleaner.isNonEmptyAfterCleaning(TextCleaner.cleanTextForJson(text)),
        ValidationError.label
      )
      .otherwise(lit(null: String))
  }

  /** Per-document error MESSAGE for the text/batch endpoints, mirroring
    * the reference's formats exactly — including its asymmetry: the
    * too-short branch carries the "Document {id}: " prefix
    * (utils.py:97-103), the too-long branch does not (utils.py:112-116).
    * Null when valid.
    */
  def textErrorMessage(id: Column, text: Column, conf: EngineConfig): Column = {
    val len = TextCleaner.strippedLength(text)
    when(len < conf.minTextLength,
      concat(lit("Document "), id.cast("string"),
        lit(": Text length ("), len.cast("string"),
        lit(s") below minimum (${conf.minTextLength})")))
      .when(len > conf.maxTextLength,
        concat(lit("Text length ("), len.cast("string"),
          lit(s") exceeds maximum (${conf.maxTextLength})")))
      .otherwise(lit(null: String))
  }

  /** Plain-Scala validation for the scalar query path; throws like the
    * reference (utils.py:95-116) and, when `metrics` is given, increments
    * ERROR_COUNT on each branch exactly where the reference does
    * (utils.py:96, utils.py:112).
    */
  def validateQueryLength(
      text: String,
      conf: EngineConfig,
      metrics: Option[Metrics] = None,
      endpoint: String = "query"
  ): Unit = {
    // null measures 0 like the DataFrame paths: text_too_short, not an NPE
    val len = TextCleaner.strippedLength(text)
    if (len < conf.minTextLength) {
      metrics.foreach(_.errorCount(endpoint, TextTooShort.label).add(1L))
      throw new IllegalArgumentException(
        s"Text length ($len) below minimum (${conf.minTextLength})")
    }
    if (len > conf.maxQueryLength) {
      metrics.foreach(_.errorCount(endpoint, QueryTooLong.label).add(1L))
      throw new IllegalArgumentException(
        s"Query length ($len) exceeds maximum (${conf.maxQueryLength})")
    }
  }
}
