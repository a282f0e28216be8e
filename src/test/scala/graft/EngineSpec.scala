package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.EngineConfig
import graft.engine.{InceptionEngine, Validation}
import graft.text.{Chunker, TextCleaner}

/** DataFrame-level engine tests: endpoint shapes (reference
  * tests/test_embedding_service.py:78-127), validation table
  * (:129-243), and cross-checks between the Column cleaner and the pure
  * Scala twin. One SparkSession per suite.
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val engine = new InceptionEngine(EngineConfig.default)

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("embedDocuments: one row per doc, TextResponse shape (ref :110-126)") {
    val df = docsDf(
      1L -> "First document. It has two sentences.",
      2L -> "Second document with one sentence.")
    val out = engine.embedDocuments(df).collect()
    assert(out.length == 2)
    assert(out.map(_.doc_id).sorted.sameElements(Array(1L, 2L)))
    out.foreach { r =>
      assert(r.embeddings.nonEmpty)
      assert(r.embeddings.head.chunk_number == 1)
      assert(r.embeddings.forall(_.embedding.length == 768))
      // prefix stripped from returned chunk text (ref :221-223)
      assert(r.embeddings.forall(!_.chunk.contains(Chunker.LeadText)))
    }
  }

  test("embedDocuments drops invalid rows (empty text — ref 'Document N: Text length (0) below minimum')") {
    val df = docsDf(1L -> "Valid text here.", 2L -> "   ")
    val out = engine.embedDocuments(df).collect()
    assert(out.map(_.doc_id).toSet == Set(1L))
  }

  test("exploded and flagship agree on chunks and vectors") {
    val df = docsDf(7L -> ("A sentence. " * 50).trim)
    val flag = engine.embedDocuments(df).collect().head
    val expl = engine.embedDocumentsExploded(df).collect()
      .sortBy(_.chunk_number)
    assert(flag.embeddings.length == expl.length)
    flag.embeddings.zip(expl).foreach { case (a, b) =>
      assert(a.chunk_number == b.chunk_number)
      assert(a.chunk == b.chunk)
      assert(a.embedding.sameElements(b.embedding))
    }
  }

  test("validateText endpoint shape (ref routes/embedding.py:129-150)") {
    val out = engine.validateText(docsDf(1L -> "  ok  ", 2L -> "ñ😊"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("processed_text") == "ok")
    assert(out(0).getAs[Boolean]("is_valid"))
    assert(out(0).getAs[String]("error") == null)
    assert(!out(1).getAs[Boolean]("is_valid"))
    assert(out(1).getAs[String]("error") == "Text is empty after cleaning.")
  }

  test("Column cleaner agrees with pure-Scala twin on adversarial inputs") {
    import spark.implicits._
    val inputs = Seq("", "ñ😊", "a\tb\r\nc", "  x  \n\n\n\n  y  ",
      "plain text", "\u0000null\u0007bytes", "tab\tand  spaces",
      "line1\nline2\n\n\n\nline3", "😊😊😊", "mixed ñ ascii")
    val got = inputs.toDF("text")
      .select(engine.cleanText(col("text")).as("c"))
      .collect().map(_.getString(0))
    val want = inputs.map(TextCleaner.cleanString)
    got.zip(want).zip(inputs).foreach { case ((g, w), in) =>
      assert(g == w, s"cleaner mismatch on '$in': column='$g' scala='$w'")
    }
  }

  test("query embedding: 768 floats, validates length (ref :129-158)") {
    val v = engine.embedQuery("constitutional law")
    assert(v.length == 768)
    intercept[IllegalArgumentException] { engine.embedQuery("") }
    intercept[IllegalArgumentException] { engine.embedQuery("x" * 2000) }
    intercept[IllegalArgumentException] { engine.embedQuery("ñ😊") }
  }

  test("duplicate ids: dedupeIds keeps one row per id (ref routes/embedding.py:117 last-wins dict)") {
    val df = docsDf(1L -> "Version one.", 1L -> "Version two.", 2L -> "Other.")
    val out = engine.embedDocuments(df, dedupeIds = true).collect()
    assert(out.map(_.doc_id).sorted.sameElements(Array(1L, 2L)))
  }

  test("health surface mirrors GET /health keys (ref routes/monitoring.py:16-28)") {
    val h = engine.health
    assert(h("status") == "healthy")
    assert(h("model_loaded") == true)
    assert(h.contains("gpu_available"))
  }

  test("metrics: failing docs increment ERROR_COUNT; kernel time and requests recorded") {
    val m = new graft.engine.Metrics(spark.sparkContext)
    val me = new InceptionEngine(EngineConfig.default, Some(m))
    val df = docsDf(1L -> "", 2L -> ("valid document text. " * 20))
    val out = me.embedDocuments(df).collect()
    assert(out.length == 1) // invalid row routed out
    // scalar query path: success records time, failure counts errors
    me.embedQuery("a perfectly reasonable query")
    intercept[IllegalArgumentException] { me.embedQuery("") }
    val snap = m.snapshot
    assert(snap.getOrElse("error_count.batch.text_too_short", 0L) >= 1L,
      s"batch too-short not counted in $snap")
    assert(snap.getOrElse("error_count.query.text_too_short", 0L) >= 1L)
    // reference double-counts ValueError as validation_error (utils.py:133)
    assert(snap.getOrElse("error_count.query.validation_error", 0L) >= 1L)
    assert(snap.getOrElse("request_count.batch", 0L) >= 1L)
    assert(snap.getOrElse("request_count.query", 0L) >= 2L)
    assert(snap.getOrElse("processing_time_ms.batch", -1L) >= 0L,
      "batch kernel time accumulator missing")
    assert(snap.contains("processing_time_ms.query"))
    assert(snap.contains("model_load_time_ms"))
    // PROCESSING_TIME histogram semantics (metrics.py:9-14): cumulative
    // le buckets + count, at the reference's exact boundaries. The fast
    // JVM kernels land under every bound, so each cumulative bucket must
    // equal the observation count; the +Inf bucket always does.
    for (ep <- Seq("batch", "query")) {
      val n = snap.getOrElse(s"processing_time.$ep.count", 0L)
      assert(n >= 1L, s"no $ep histogram observations in $snap")
      assert(snap.getOrElse(s"processing_time.$ep.bucket.le_inf", -1L) == n,
        "+Inf bucket must count every observation")
      val bucketCounts = Seq("0.1", "0.5", "1.0", "2.0", "5.0", "10.0")
        .map(l => snap.getOrElse(s"processing_time.$ep.bucket.le_$l", -1L))
      // full bucket vector registered, cumulative (monotone nondecreasing)
      assert(bucketCounts.forall(_ >= 0L), s"missing buckets: $snap")
      assert(bucketCounts.sliding(2).forall {
        case Seq(a, b) => a <= b
        case _         => true
      }, s"buckets not cumulative: $bucketCounts")
      assert(bucketCounts.last <= n)
    }
    // MODEL_LOAD_TIME histogram (metrics.py:28-32): one warmup observation
    assert(snap.getOrElse("model_load_time.count", 0L) >= 1L)
    assert(snap.getOrElse("model_load_time.bucket.le_inf", 0L) ==
      snap("model_load_time.count"))
  }

  test("Prometheus exposition golden (monitoring.py:30-35 generate_latest twin)") {
    // a fresh Metrics so only deliberately-touched accumulators exist:
    // the exposition is then a pure function of these observations
    val m = new graft.engine.Metrics(spark.sparkContext)
    m.requestCount("query").add(2L)
    m.errorCount("query", "validation_error").add(1L)
    m.chunkCount("text").add(5L)
    val h = m.processingTimeHistogram("query")
    h.observe(50L) // lands in every bucket
    h.observe(750L) // first bucket over 750 ms is le=1.0
    m.modelLoadHistogram.observe(12L)
    val expected =
      """# TYPE graft_request_count counter
        |graft_request_count{endpoint="query"} 2
        |# TYPE graft_error_count counter
        |graft_error_count{endpoint="query",error_type="validation_error"} 1
        |# TYPE graft_chunk_count counter
        |graft_chunk_count{endpoint="text"} 5
        |# TYPE graft_processing_time_seconds histogram
        |graft_processing_time_seconds_bucket{endpoint="query",le="0.1"} 1
        |graft_processing_time_seconds_bucket{endpoint="query",le="0.5"} 1
        |graft_processing_time_seconds_bucket{endpoint="query",le="1.0"} 2
        |graft_processing_time_seconds_bucket{endpoint="query",le="2.0"} 2
        |graft_processing_time_seconds_bucket{endpoint="query",le="5.0"} 2
        |graft_processing_time_seconds_bucket{endpoint="query",le="10.0"} 2
        |graft_processing_time_seconds_bucket{endpoint="query",le="+Inf"} 2
        |graft_processing_time_seconds_sum{endpoint="query"} 0.800
        |graft_processing_time_seconds_count{endpoint="query"} 2
        |# TYPE graft_model_load_time_seconds histogram
        |graft_model_load_time_seconds_bucket{le="1.0"} 1
        |graft_model_load_time_seconds_bucket{le="5.0"} 1
        |graft_model_load_time_seconds_bucket{le="10.0"} 1
        |graft_model_load_time_seconds_bucket{le="30.0"} 1
        |graft_model_load_time_seconds_bucket{le="60.0"} 1
        |graft_model_load_time_seconds_bucket{le="+Inf"} 1
        |graft_model_load_time_seconds_sum 0.012
        |graft_model_load_time_seconds_count 1
        |""".stripMargin
    assert(m.exposition == expected)
  }

  test("metricsExposition gate: enabled serves the body, disabled is the 404 twin (config.py:33)") {
    val on = new InceptionEngine(EngineConfig.default,
      Some(new graft.engine.Metrics(spark.sparkContext)))
    // construction observes the model-load warmup, so the body is non-empty
    assert(on.metricsExposition.exists(
      _.contains("graft_model_load_time_seconds_count 1")))
    val off = new InceptionEngine(
      EngineConfig.default.copy(enableMetrics = false),
      Some(new graft.engine.Metrics(spark.sparkContext)))
    assert(off.metricsExposition.isEmpty)
    // no metrics sink at all: likewise nothing to serve
    assert(new InceptionEngine(EngineConfig.default).metricsExposition.isEmpty)
  }

  test("EmbeddingModel seam: an alternate instance drops in with zero engine edits (config.py:6-9)") {
    // a toy 4-d model — the shape a real ONNX/JNI model would take
    object ToyModel extends graft.embed.EmbeddingModel {
      def dim = 4
      def embed(text: String): Array[Float] =
        Array(text.length.toFloat, 1f, 0f, 0f)
    }
    val eng = new InceptionEngine(EngineConfig.default,
      modelOverride = Some(ToyModel))
    val out = eng.embedDocuments(docsDf(1L -> "Short document text."))
      .collect().head
    assert(out.embeddings.head.embedding.length == 4)
    assert(out.embeddings.head.embedding(1) == 1f)
    // scalar query path goes through the same seam (with the query prefix)
    val q = eng.embedQuery("abc")
    assert(q.length == 4 && q(0) > 3f)
    // registry: the default name resolves to the hashing kernel; unknown
    // names fail loudly at engine build time, not mid-job
    assert(graft.embed.EmbeddingModel.forName("hashing-768") eq
      graft.embed.Embedder)
    intercept[IllegalArgumentException] {
      graft.embed.EmbeddingModel.forName("modernbert-embed-base")
    }
  }

  test("decodeUtf8: invalid bytes -> decode_error with reference message; valid bytes round-trip") {
    import spark.implicits._
    val m = new graft.engine.Metrics(spark.sparkContext)
    val me = new InceptionEngine(EngineConfig.default, Some(m))
    val df = Seq(
      (1L, "plain ascii".getBytes("UTF-8")),
      (2L, "unicode … ✓ text".getBytes("UTF-8")),
      (3L, Array(0xFF.toByte, 0xFE.toByte, 0xFD.toByte))
    ).toDF("doc_id", "raw")
    val out = me.decodeUtf8(df, "raw")
      .select("doc_id", "text", "error_type", "error")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getString(1) == "plain ascii" && out(0).isNullAt(2))
    assert(out(1).getString(1) == "unicode … ✓ text" && out(1).isNullAt(2))
    assert(out(2).isNullAt(1))
    assert(out(2).getString(2) == "decode_error")
    assert(out(2).getString(3) == "Invalid UTF-8 encoding in text")
    assert(m.snapshot.getOrElse("error_count.text.decode_error", 0L) == 1L)
  }

  test("withValidation: per-doc error message carries the doc id on the too-short branch") {
    val strict = new InceptionEngine(EngineConfig.default.copy(maxTextLength = 10))
    val out = strict.withValidation(docsDf(
        7L -> "", 8L -> "this text is certainly longer than ten chars", 9L -> "ok"))
      .select("doc_id", "error_type", "error").collect().sortBy(_.getLong(0))
    assert(out(0).getString(2) == "Document 7: Text length (0) below minimum (1)")
    // reference asymmetry: no doc prefix on the too-long branch (utils.py:112-116)
    assert(out(1).getString(2) == "Text length (44) exceeds maximum (10)")
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("null text routes to text_too_short like empty text, not to a valid 0-chunk document") {
    val df = docsDf(1L -> (null: String), 2L -> "some text")
    val out = engine.withValidation(df)
      .withColumn("query_error_type", engine.queryErrorType(col("text")))
      .select("doc_id", "error_type", "error", "query_error_type")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getString(1) == "text_too_short")
    assert(out(0).getString(2) == "Document 1: Text length (0) below minimum (1)")
    assert(out(0).getString(3) == "text_too_short")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(3))
    assert(engine.embedDocuments(df).collect().map(_.doc_id).toSeq == Seq(2L))
  }

  test("null or non-integer doc_id routes to validation_error instead of failing the job") {
    import spark.implicits._
    val df = Seq[(String, String)](
      (null, "a valid text"), ("abc", "another valid text"), ("3", "third text"))
      .toDF("doc_id", "text")
    val out = engine.withValidation(df)
      .select("doc_id", "error_type", "error").collect()
      .map(r => Option(r.getString(0)) ->
        ((Option(r.getString(1)), Option(r.getString(2)))))
      .toMap
    val bad = (Some("validation_error"), Some(Validation.InvalidIdMessage))
    assert(out(None) == bad)
    assert(out(Some("abc")) == bad)
    assert(out(Some("3")) == ((None, None)))
    val docs = engine.embedDocuments(df).collect()
    assert(docs.map(_.doc_id).toSeq == Seq(3L))
    assert(docs.head.embeddings.nonEmpty)
  }

  test("Observation metrics: one-pass side-channel counters, no second scan") {
    // the Spark-native form of the reference's REQUEST_COUNT-style
    // counters for batch plans: metrics ride the action that already
    // runs, instead of a second count() pass over the data
    val obs = new org.apache.spark.sql.Observation("prep")
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = docs.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(expr("(length(text) + 3) div 4")).as("n_tokens"),
      count(when(length(col("text")) < 64, 1)).as("n_short"))
    val n = out.count()
    val m = obs.get
    assert(m("n_rows") == n)
    val expectTokens = docs.agg(sum(expr("(length(text) + 3) div 4")))
      .head().getLong(0)
    assert(m("n_tokens") == expectTokens)
    assert(m("n_short").asInstanceOf[Long] ==
      docs.filter(length(col("text")) < 64).count())
  }

  test("chunkDocuments numbering is 1-based and dense per doc") {
    val small = new InceptionEngine(EngineConfig.default.copy(maxTokens = 64))
    val df = docsDf(3L -> ("Sentence here. " * 120).trim)
    val rows = small.chunkDocuments(df).orderBy("chunk_number").collect()
    assert(rows.length > 1)
    assert(rows.map(_.getInt(1)).sameElements(1 to rows.length))
    assert(rows.forall(_.getString(2).startsWith(Chunker.LeadText)))
  }

  test("multi-megabyte document (SURVEY §7.4.5): budget holds per chunk, numbering dense, content lossless-ish") {
    import spark.implicits._
    // ~2 MB of legal-ish prose — the reference caps at 10 MB; this is the
    // same stress shape (thousands of chunks from ONE row) at test speed
    val sentence = "The appellate court, having reviewed the record " +
      "below, remands the maritime insurance question for further " +
      "proceedings consistent with this opinion. "
    val big = sentence * (2_000_000 / sentence.length)
    assert(big.length > 1_900_000)
    // overlap 0: the reference's losslessness invariant is only defined
    // without overlap (carried sentences duplicate content by design)
    val out = new InceptionEngine(EngineConfig.default.copy(overlapRatio = 0.0))
      .embedDocuments(docsDf(7L -> big))
      .collect()
    assert(out.length == 1 && out.head.doc_id == 7L)
    val chunks = out.head.embeddings
    assert(chunks.length > 1000, s"expected thousands of chunks, got ${chunks.length}")
    // dense 1..n numbering survives the single-pass assembly
    assert(chunks.map(_.chunk_number).sameElements(1 to chunks.length))
    // every chunk re-encodes within the token budget (the reference's own
    // crown-jewel invariant, applied at stress scale)
    val mt = EngineConfig.default.maxTokens
    chunks.foreach { c =>
      val t = graft.text.SimpleTokenizer.countTokens(
        graft.text.Chunker.LeadText + c.chunk, addSpecialTokens = true)
      assert(t <= mt, s"chunk ${c.chunk_number} has $t tokens > $mt")
    }
    // vectors are 768-d and L2-normalized
    assert(chunks.forall(_.embedding.length == 768))
    val n0 = math.sqrt(chunks.head.embedding.map(x => x.toDouble * x).sum)
    assert(math.abs(n0 - 1.0) < 1e-5)
    // whitespace-stripped content round-trips (reference losslessness);
    // boolean compare so a failure doesn't print megabyte operands
    val lossless =
      chunks.map(_.chunk).mkString(" ").replaceAll("\\s", "") ==
        big.replaceAll("\\s", "")
    assert(lossless, "whitespace-stripped chunk concat != original")
  }
}
