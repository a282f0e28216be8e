package embedbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.embed.Embedder
import graft.ops.Similarity
import graft.text.TextCleaner

/** One search request: which query, how it ended, its latency, and for an
  * answered query its vector and top-k ids (checked after the window).
  */
final case class Req(
    idx: Int, group: String, seconds: Double, answered: Boolean,
    rejected: Boolean, vec: Array[Float], topIds: Vector[Long], error: Option[String])

/** Query-to-top-k latency: a closed loop of [[Search.Clients]] threads, each
  * sending its next request only when the last one returned. A request is
  * `embedQuery` then `bruteForceTopK(k = 10)` over the cached chunk
  * vectors of an opinion corpus embedded at set-up.
  */
final class Search(ctx: Ctx) extends Workload {
  import Search._

  private val spark = ctx.spark
  private val dir = ctx.dataDir("search")
  private var docs = Vector.empty[GenDoc]
  private var queries = Vector.empty[GenQuery]
  private var digest = ""
  private var vectors: DataFrame = _
  private var ids = Array.empty[Long]
  private var vecs = Array.empty[Array[Float]]
  private var norms = Array.empty[Double]
  private var scanSplits = 0
  private val nextQuery = new AtomicInteger(0)
  private val exact = new java.util.concurrent.ConcurrentHashMap[Int, Vector[Long]]()

  def setup(): Unit = {
    val d = Gen.opinions(ctx.args.seed ^ 0x7365617263L, CorpusDocs)
    val q = Gen.queries(ctx.args.seed, QueryPool)
    val dg = Gen.digest(d) + Gen.queryDigest(q)
    ctx.out.record(
      if (digest.nonEmpty && dg != digest) Seq("search inputs differ between set-ups")
      else Nil)
    docs = d
    queries = q
    digest = dg
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val rows = spark.sparkContext.parallelize(docs.map(x => Row(x.id, x.text)), ctx.cores)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(dir)
    scanSplits = spark.read.parquet(dir).rdd.getNumPartitions
    if (vectors != null) vectors.unpersist(blocking = true)
    vectors = ctx.engine.embedDocumentsExploded(spark.read.parquet(dir))
      .select((col("doc_id") * 1000 + col("chunk_number")).as("vec_id"), col("embedding"))
      .cache()
    val rowsOut = vectors.collect()
    ids = rowsOut.map(_.getLong(0))
    vecs = rowsOut.map(r => r.getSeq[Float](1).toArray)
    norms = vecs.map(Checks.squaredNorm)
    exact.clear()
    val warm = clients(0.0, WarmupAnswered, "warmup")._1
    checkAll(warm)
  }

  def inputs: Seq[(String, Any)] = Seq(
    "digest" -> digest,
    "docs" -> docs.length,
    "chars" -> docs.iterator.map(_.text.length.toLong).sum,
    "generated_sentences_per_doc" -> docs.iterator.map(_.sentences.toLong).sum.toDouble / docs.length,
    "chunks_per_doc" -> ids.length.toDouble / docs.length,
    "vectors" -> ids.length,
    "query_pool" -> queries.length,
    "planted_invalid_share" -> queries.count(!_.valid).toDouble / queries.length,
    "parquet_files" -> new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")),
    "scan_splits" -> scanSplits,
    "clients" -> Clients)

  private def request(i: Int, prefix: String): Req = {
    val q = queries(i % queries.length)
    val group = s"$prefix-$i"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    def done(answered: Boolean, rejected: Boolean, v: Array[Float], top: Vector[Long],
        err: Option[String]) =
      Req(i, group, (System.nanoTime() - t0) / 1e9, answered, rejected, v, top, err)
    try ctx.tracer.span("query.request", group) { root =>
      val v =
        try Some(ctx.tracer.span("query.embed", group, root)(_ => ctx.engine.embedQuery(q.text)))
        catch { case _: IllegalArgumentException => None }
      v match {
        case None if q.valid => done(false, true, null, Vector.empty,
          Some(s"$group: valid query rejected"))
        case None => done(false, true, null, Vector.empty, None)
        case Some(_) if !q.valid => done(false, false, null, Vector.empty,
          Some(s"$group: planted-invalid query accepted"))
        case Some(qv) =>
          val top = ctx.tracer.span("similarity.topk", group, root) { sid =>
            ctx.collector.foreach(_.bind(group, sid))
            Similarity.bruteForceTopK(vectors, "vec_id", "embedding", qv, TopK)
              .collect().map(_.getLong(0)).toVector
          }
          done(true, false, qv, top, None)
      }
    } catch {
      case e: Exception => done(false, false, null, Vector.empty, Some(s"$group threw $e"))
    } finally sc.clearJobGroup()
  }

  /** Runs the closed loop until `seconds` have passed and at least
    * `minAnswered` queries were answered; returns requests and wall time.
    */
  private def clients(seconds: Double, minAnswered: Int, prefix: String): (Vector[Req], Double) = {
    val recs = new ConcurrentLinkedQueue[Req]()
    val answered = new AtomicLong(0)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        while ((elapsed < seconds || answered.get < minAnswered) && elapsed < HardStopS) {
          val r = request(nextQuery.getAndIncrement(), prefix)
          recs.add(r)
          if (r.answered) answered.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = elapsed
    val out = recs.asScala.toVector.sortBy(_.idx)
    if (answered.get < minAnswered)
      ctx.out.record(Seq(s"$prefix: only ${answered.get} answered in ${HardStopS}s"))
    (out, wall)
  }

  /** Records every request as one operation: its own error, a query
    * vector unlike a direct embed of the cleaned query, or top-k ids
    * unlike the driver-side exact top-k.
    */
  private def checkAll(reqs: Vector[Req]): Unit = {
    val ans = reqs.filter(_.answered)
    ans.par.foreach { r =>
      exact.computeIfAbsent(r.idx % queries.length, _ =>
        Checks.exactTopK(ids, vecs, norms, r.vec, TopK))
    }
    reqs.foreach { r =>
      val errs = r.error.toSeq ++ (if (!r.answered) Nil else {
        val q = queries(r.idx % queries.length)
        val direct = Embedder.embedQuery(TextCleaner.cleanString(q.text))
        (if (java.util.Arrays.equals(direct, r.vec)) None
        else Some(s"${r.group}: query vector differs from a direct embed")) ++
          Checks.checkTopK(r.topIds, exact.get(r.idx % queries.length)).map(e => s"${r.group}: $e")
      })
      ctx.out.record(errs)
    }
  }

  def measure(seconds: Double): Seq[Metric] = {
    val (reqs, wall) = clients(seconds, MinAnswered, "q")
    checkAll(reqs)
    val ans = reqs.filter(_.answered)
    if (ans.isEmpty) return Nil
    val lat = ans.map(_.seconds * 1000)
    val p95 = Stats.percentile(lat, 95)
    Seq(
      Metric("docs_per_s", ans.length / wall, "1/s",
        s"queries answered; ${reqs.length - ans.length} planted-invalid rejected"),
      Metric("chunks_per_s", ans.length.toDouble * ids.length / wall, "1/s",
        s"chunk vectors ranked, ${ids.length} per query"),
      Metric("op_p50_ms", Stats.median(lat), "ms", s"query latency, n=${lat.length}"),
      Metric("op_p95_ms", p95.value, "ms", s"nearest rank, n=${p95.n}, ${p95.beyond} beyond"))
  }

  def traced(seconds: Double): Seq[Metric] = {
    val (before, _) = clients(seconds / 4, TracedAnswered / 2, "u")
    ctx.startTracing()
    val (reqs, _) = clients(seconds / 2, TracedAnswered, "t")
    ctx.stopCollecting()
    ctx.tracer.enabled = false
    val (after, _) = clients(seconds / 4, TracedAnswered / 2, "v")
    ctx.tracer.enabled = true
    val plain = before ++ after
    checkAll(plain ++ reqs)
    val coll = ctx.collector.get
    val ans = reqs.filter(_.answered)
    val replay = Replay.queries(queries.filter(_.valid).take(ReplayQueries), ctx.tracer)
    val spans = ctx.tracer.all
    val self = Trace.selfSecondsByName(spans)
    def medDur(n: String) = Stats.median(spans.filter(_.name == n).map(_.dur / 1e9))
    val st = ans.map(r => coll.stats(r.group))
    def perQuery(f: GroupStats => Double) = Stats.mean(st.map(f))
    Declared.layers(Map(
      "embedder.batches" -> replay.embedderBatches.toDouble,
      "embedder.texts" -> replay.embedderTexts.toDouble,
      "embedder.chars" -> replay.embedderChars.toDouble,
      "embedder.self_s" -> self.getOrElse("embedder", 0.0),
      "cleaner.calls" -> replay.cleanerCalls.toDouble,
      "cleaner.self_s" -> self.getOrElse("cleaner", 0.0),
      "spark.tasks" -> perQuery(_.tasks.toDouble),
      "spark.core_busy_share" -> perQuery(_.coreBusyShare(ctx.cores)),
      "spark.task_skew" -> perQuery(_.taskSkew),
      "spark.task_run_s" -> perQuery(_.taskRunMs.sum / 1e3),
      "spark.task_cpu_s" -> perQuery(_.cpuNs / 1e9),
      "spark.gc_s" -> perQuery(_.gcMs / 1e3),
      "spark.result_bytes" -> perQuery(_.resultBytes.toDouble),
      "spark.input_bytes" -> perQuery(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes" -> perQuery(_.shuffleWriteBytes.toDouble),
      "spark.jobs" -> perQuery(_.jobs.toDouble),
      "spark.sched_delay_s" -> perQuery(_.schedDelayMs / 1e3),
      "similarity.topk_s" -> medDur("similarity.topk"),
      "similarity.vectors_scanned" -> ids.length.toDouble,
      "query.embed_s" -> medDur("query.embed"),
      "query.rejected" -> reqs.count(_.rejected).toDouble,
      "trace.overhead_share" ->
        Stats.median(ans.map(_.seconds)) / Stats.median(plain.filter(_.answered).map(_.seconds))))
  }
}

object Search {
  val Clients = 2
  val TopK = 10
  val CorpusDocs = 300
  val QueryPool = 4000
  val WarmupAnswered = 10
  /** p95 needs ten samples beyond it. */
  val MinAnswered: Int = Stats.minSamples(95)
  val TracedAnswered = 50
  val ReplayQueries = 500
  /** Longest a window may run before giving up on its sample count. */
  val HardStopS = 90.0
}
