package embedbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.engine.InceptionEngine

/** One timed embed job: its latency, job group and folded output. */
final case class JobRec(seconds: Double, group: String, summary: CorpusSummary)

/** A corpus-throughput workload: each timed operation is one
  * `embedDocuments` job over the whole corpus, written as `files` parquet
  * files. The job's output is folded per partition on the executors, so
  * no vector travels to the driver.
  */
final class Corpus(
    ctx: Ctx, name: String, generate: () => Vector[GenDoc], files: Int, nSamples: Int)
    extends Workload {

  private val spark = ctx.spark
  private val conf = ctx.engine.conf
  private val dir = ctx.dataDir(name)
  private var docs = Vector.empty[GenDoc]
  private var digest = ""
  private var expectedIds = Vector.empty[Long]
  private var samples = Seq.empty[DocSample]
  /** Digest and chunk count of the run's first job; later jobs must match. */
  private var refDigest: Option[Long] = None
  private var refChunks = 0L
  private var scanSplits = 0
  private var jobs = 0
  /** The written corpus, resolved once per set-up as a user would. */
  private var input: DataFrame = _

  private def write(): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val rows = spark.sparkContext.parallelize(docs.map(d => Row(d.id, d.text)), files)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(dir)
  }

  def setup(): Unit = {
    val d = generate()
    val dg = Gen.digest(d)
    ctx.out.record(
      if (digest.nonEmpty && dg != digest) Seq(s"$name inputs differ between set-ups")
      else Nil)
    docs = d
    digest = dg
    write()
    expectedIds = docs.filter(_.valid).map(_.id).sorted
    if (samples.isEmpty) {
      val r = new java.util.SplittableRandom(ctx.args.seed ^ 0x73616d706c65L)
      val valid = docs.filter(_.valid)
      samples = Seq.fill(nSamples)(valid(r.nextInt(valid.length))).distinctBy(_.id)
        .map(g => Checks.direct(g.id, g.text, conf))
    }
    input = spark.read.parquet(dir)
    scanSplits = input.rdd.getNumPartitions
    job("warmup")
  }

  def inputs: Seq[(String, Any)] = {
    val valid = docs.count(_.valid)
    Seq(
      "digest" -> digest,
      "docs" -> docs.length,
      "chars" -> docs.iterator.map(_.text.length.toLong).sum,
      "planted_invalid_share" -> (docs.length - valid).toDouble / docs.length,
      "generated_sentences_per_doc" -> docs.iterator.map(_.sentences.toLong).sum.toDouble / valid,
      "chunks_per_doc" -> refChunks.toDouble / valid,
      "parquet_files" -> new File(dir).listFiles().count(_.getName.endsWith(".parquet")),
      "scan_splits" -> scanSplits)
  }

  /** Runs and checks one embed job. */
  private def job(prefix: String): JobRec = {
    jobs += 1
    val group = s"$name-$prefix-$jobs"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val ids = samples.map(_.docId).toSet
    val t0 = System.nanoTime()
    val rec = try {
      val s = ctx.tracer.span("engine.embed_job", group) { sid =>
        ctx.collector.foreach(_.bind(group, sid))
        Corpus.embedAndFold(ctx.engine, input, ids)
      }
      Some(JobRec((System.nanoTime() - t0) / 1e9, group, s))
    } catch {
      case e: Exception =>
        ctx.out.record(Seq(s"$group threw $e"))
        None
    } finally sc.clearJobGroup()
    rec.foreach { r =>
      ctx.out.record(Checks.checkCorpus(r.summary, expectedIds, samples, refDigest)
        .map(e => s"$group: $e"))
      if (refDigest.isEmpty) {
        refDigest = Some(r.summary.digest)
        refChunks = r.summary.chunks
      }
    }
    rec.orNull
  }

  /** Jobs until `seconds` have passed and at least `minJobs` ran. */
  private def loop(seconds: Double, prefix: String, minJobs: Int = 1): Vector[JobRec] = {
    val out = Vector.newBuilder[JobRec]
    val t0 = System.nanoTime()
    var n = 0
    while (n < minJobs || (System.nanoTime() - t0) / 1e9 < seconds) {
      Option(job(prefix)).foreach(out += _)
      n += 1
    }
    out.result()
  }

  def measure(seconds: Double): Seq[Metric] = {
    val recs = loop(seconds, "timed", Corpus.MinJobs)
    if (recs.isEmpty) return Nil
    val secs = recs.map(_.seconds)
    val total = secs.sum
    val lat = secs.map(_ * 1000)
    val p95 = Stats.percentile(lat, 95)
    Seq(
      Metric("docs_per_s", recs.map(_.summary.docIds.length).sum / total, "1/s",
        s"valid docs over ${recs.length} jobs"),
      Metric("chunks_per_s", recs.map(_.summary.chunks).sum / total, "1/s"),
      Metric("op_p50_ms", Stats.median(lat), "ms",
        s"embed job, n=${lat.length}: ${lat.map(x => f"$x%.0f").mkString("/")}"),
      Metric("op_p95_ms", p95.value, "ms",
        s"nearest rank, n=${p95.n}, ${p95.beyond} beyond" +
          (if (p95.supported) "" else "; too few jobs for a true p95, reads the slowest")))
  }

  /** The standalone validation job: rows the engine rejects. Counted per
    * partition, so the plan stays as shuffle-free as the embed job's.
    */
  private def validationJob(group: String): Long = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try ctx.tracer.span("validation.job", group) { sid =>
      ctx.collector.foreach(_.bind(group, sid))
      Corpus.countRejected(ctx.engine, input)
    } finally sc.clearJobGroup()
  }

  def traced(seconds: Double): Seq[Metric] = {
    val plain = loop(seconds / 4, "untraced")
    ctx.startTracing()
    val recs = ArrayBuffer.empty[JobRec]
    val rejected = ArrayBuffer.empty[Long]
    val planted = docs.count(!_.valid)
    val t0 = System.nanoTime()
    while (recs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds / 2) {
      Option(job("traced")).foreach(recs += _)
      val vg = s"$name-validation-${recs.length}"
      val n = validationJob(vg)
      ctx.out.record(
        if (n == planted) Nil else Seq(s"$vg: $n rows rejected, $planted planted invalid"))
      rejected += n
    }
    ctx.stopCollecting()
    ctx.tracer.enabled = false
    val plainAfter = loop(seconds / 4, "untraced")
    ctx.tracer.enabled = true
    val coll = ctx.collector.get
    val r = Replay.documents(docs.filter(_.valid), conf, ctx.tracer)
    val spans = ctx.tracer.all
    val self = Trace.selfSecondsByName(spans)
    def durs(n: String) = spans.filter(_.name == n).map(_.dur / 1e9)
    val st = recs.map(r => coll.stats(r.group)).toVector
    def perJob(f: GroupStats => Double) = Stats.mean(st.map(f))
    Declared.layers(Map(
      "splitter.calls" -> r.splitterCalls.toDouble,
      "splitter.sentences" -> r.sentences.toDouble,
      "splitter.self_s" -> self.getOrElse("splitter", 0.0),
      "chunker.calls" -> r.chunkerCalls.toDouble,
      "chunker.chunks" -> r.chunks.toDouble,
      "chunker.self_s" -> self.getOrElse("chunker", 0.0),
      "chunker.fill_ratio" -> r.chunkBudgetTokens.toDouble / (r.chunks * conf.maxTokens),
      "chunker.overlap_share" ->
        math.max(0L, r.chunkBodyTokens - r.tokens).toDouble / r.chunkBudgetTokens,
      "tokenizer.calls" -> r.tokenizerCalls.toDouble,
      "tokenizer.tokens" -> r.tokens.toDouble,
      "tokenizer.self_s" -> self.getOrElse("tokenizer", 0.0),
      "embedder.batches" -> r.embedderBatches.toDouble,
      "embedder.texts" -> r.embedderTexts.toDouble,
      "embedder.chars" -> r.embedderChars.toDouble,
      "embedder.self_s" -> self.getOrElse("embedder", 0.0),
      "validation.job_s" -> Stats.median(durs("validation.job")),
      "validation.rows_rejected" -> rejected.last.toDouble,
      "engine.embed_job_s" -> Stats.median(recs.map(_.seconds).toSeq),
      "engine.docs_in" -> docs.length.toDouble,
      "engine.docs_valid" -> recs.head.summary.docIds.length.toDouble,
      "engine.chunks_out" -> recs.head.summary.chunks.toDouble,
      "spark.tasks" -> perJob(_.tasks.toDouble),
      "spark.core_busy_share" -> perJob(_.coreBusyShare(ctx.cores)),
      "spark.task_skew" -> perJob(_.taskSkew),
      "spark.task_run_s" -> perJob(_.taskRunMs.sum / 1e3),
      "spark.task_cpu_s" -> perJob(_.cpuNs / 1e9),
      "spark.gc_s" -> perJob(_.gcMs / 1e3),
      "spark.result_bytes" -> perJob(_.resultBytes.toDouble),
      "spark.input_bytes" -> perJob(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> perJob(_.shuffleWriteBytes.toDouble),
      "spark.jobs" -> perJob(_.jobs.toDouble),
      "spark.sched_delay_s" -> perJob(_.schedDelayMs / 1e3),
      "trace.overhead_share" ->
        Stats.median(recs.map(_.seconds).toSeq) /
          Stats.median((plain ++ plainAfter).map(_.seconds))))
  }
}

object Corpus {

  /** Timed jobs per run at the least: single-task job times vary by about
    * 10% from job to job, so the window holds at least four.
    */
  val MinJobs = 4

  def opinionsLong(ctx: Ctx): Corpus =
    new Corpus(ctx, "opinions_long", () => Gen.opinions(ctx.args.seed, 240),
      files = 1, nSamples = 4)

  def snippetsShort(ctx: Ctx): Corpus =
    new Corpus(ctx, "snippets_short", () => Gen.snippets(ctx.args.seed, 100000),
      files = math.max(4, ctx.cores), nSamples = 32)

  // Closures below live in this object so tasks capture only their
  // arguments, never a workload holding the session.

  def embedAndFold(engine: InceptionEngine, df: DataFrame, sampleIds: Set[Long]): CorpusSummary =
    engine.embedDocuments(df).rdd
      .mapPartitions(it => Iterator(Checks.fold(it, sampleIds)))
      .collect()
      .foldLeft(CorpusSummary.empty)(_ merge _)

  def countRejected(engine: InceptionEngine, df: DataFrame): Long =
    engine.withValidation(df).filter(col("error_type").isNotNull).select("doc_id")
      .rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().sum
}
