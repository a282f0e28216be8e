package embedbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.engine.InceptionEngine

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

object Args {
  val Workloads = Seq("opinions_long", "snippets_short", "search")

  val usage =
    "usage: embedbench.Main --workload <opinions_long|snippets_short|search> " +
      "--seed <n> --seconds <n> --trace <0|1> --work <dir>"

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing $k")
    for {
      w <- need("--workload").filterOrElse(Workloads.contains, s"unknown workload")
      seed <- need("--seed").flatMap(s => s.toLongOption.toRight(s"bad seed $s"))
      secs <- need("--seconds").flatMap(s =>
        s.toIntOption.filter(_ >= 1).toRight(s"bad seconds $s"))
      tr <- need("--trace").filterOrElse(Set("0", "1"), "trace must be 0 or 1")
      work <- need("--work")
    } yield Args(w, seed, secs, tr == "1", new File(work).getAbsoluteFile)
  }
}

final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** Operations attempted and failed over the whole run, with the first
  * few failure messages. Expected rejections are not failures.
  */
final class Outcome {
  private var attemptedN = 0L
  private var failedN = 0L
  val errors = ArrayBuffer.empty[String]

  def record(errs: Seq[String]): Unit = synchronized {
    attemptedN += 1
    if (errs.nonEmpty) {
      failedN += 1
      if (errors.length < 20) errors ++= errs.take(20 - errors.length)
    }
  }

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
}

/** What every workload shares: the session, the engine under test, the
  * run's outcome and its tracer. The engine is built exactly as a user
  * builds it: default configuration, no metrics sink.
  */
final class Ctx(val spark: SparkSession, val args: Args, val cores: Int) {
  val engine = new InceptionEngine()
  val out = new Outcome
  val tracer = new Tracer(false)
  var collector: Option[SparkCollector] = None
  def say(s: String): Unit = println(s"[embedbench] $s")

  def dataDir(name: String): String = new File(args.work, s"data/$name").getAbsolutePath

  /** Switches tracing on for the traced half of a `--trace 1` run. */
  def startTracing(): Unit = {
    tracer.enabled = true
    collector = Some(new SparkCollector(spark.sparkContext, tracer).install())
  }

  /** Removes the listener; spans stay on for the replay that follows. */
  def stopCollecting(): Unit = collector.foreach(_.remove())
}

/** A workload as the runner drives it. */
trait Workload {

  /** Generate inputs, write them, warm up; repeated to time set-up. */
  def setup(): Unit

  /** Realized input properties, for the run's output. */
  def inputs: Seq[(String, Any)]

  /** Measure for `seconds` with tracing off; end-to-end metrics. */
  def measure(seconds: Double): Seq[Metric]

  /** Measure untraced, traced, untraced again (a quarter, a half and a
    * quarter of `seconds`), then replay; per-layer metrics.
    */
  def traced(seconds: Double): Seq[Metric]
}

object Main {

  val SetupReps = 3

  def main(argv: Array[String]): Unit = Args.parse(argv) match {
    case Left(err) =>
      System.err.println(s"$err\n${Args.usage}")
      System.exit(2)
    case Right(args) =>
      // exit explicitly either way: Spark's threads would keep a JVM whose
      // main thread died waiting
      val code =
        try run(args)
        catch { case e: Throwable => e.printStackTrace(); 1 }
      System.exit(code)
  }

  private def session(args: Args, cores: Int): SparkSession = {
    val local = new File(args.work, "spark-local")
    local.mkdirs()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("embedbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def run(args: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(args, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, args, cores)
    val wl: Workload = args.workload match {
      case "opinions_long" => Corpus.opinionsLong(ctx)
      case "snippets_short" => Corpus.snippetsShort(ctx)
      case "search" => new Search(ctx)
    }
    val repS = (0 until SetupReps).map { _ =>
      val r0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - r0) / 1e9
    }
    val setupS = sessionS + Stats.median(repS)
    ctx.say(Json.obj(("event", "inputs") +: ("workload", args.workload) +:
      ("seed", args.seed) +: wl.inputs))
    ctx.say(Json.obj(Seq("event" -> "setup", "session_s" -> sessionS,
      "reps_s" -> repS.map(x => f"$x%.3f").mkString("/"), "setup_s" -> setupS)))

    val metrics =
      if (args.trace) wl.traced(args.seconds.toDouble)
      else {
        val m = wl.measure(args.seconds.toDouble)
        m ++ Seq(
          Metric("peak_rss_mb", peakRssMb(), "MB"),
          Metric("setup_s", setupS, "s",
            s"session start + median of $SetupReps set-ups"))
      }
    val failedShare = ctx.out.failed.toDouble / math.max(1L, ctx.out.attempted)
    (metrics :+ Metric("failed_share", failedShare, "ratio",
      s"${ctx.out.failed}/${ctx.out.attempted} operations")).foreach { m =>
      ctx.say(f"metric ${m.name} ${m.value}%.6g ${m.unit}" +
        (if (m.note.nonEmpty) s"  (${m.note})" else ""))
    }
    ctx.out.errors.foreach(e => ctx.say(s"FAIL $e"))
    if (args.trace) {
      val f = new File(args.work, s"trace/${args.workload}.tsv")
      ctx.tracer.write(f)
      ctx.say(s"spans written to $f")
    }
    spark.stop()

    val correct = ctx.out.failed == 0 && ctx.out.attempted > 0 &&
      metrics.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val declared = if (args.trace) Declared.perLayer else Declared.endToEnd
    val byName = metrics.map(m => m.name -> m).toMap
    val missing = declared.filterNot(byName.contains)
    if (missing.nonEmpty) System.err.println(s"missing metrics: ${missing.mkString(",")}")
    println(Json.result(correct && missing.isEmpty, ctx.out.attempted, ctx.out.failed,
      declared.flatMap(byName.get)))
    if (correct && missing.isEmpty) 0 else 1
  }
}

/** The metric names BENCHMARK.json declares, in its order, with units. */
object Declared {
  val endToEnd: Seq[String] = Seq("docs_per_s", "chunks_per_s", "op_p50_ms",
    "op_p95_ms", "peak_rss_mb", "setup_s")

  val perLayerUnits: Seq[(String, String)] = Seq(
    "splitter.calls" -> "count", "splitter.sentences" -> "count",
    "splitter.self_s" -> "s",
    "chunker.calls" -> "count", "chunker.chunks" -> "count",
    "chunker.self_s" -> "s", "chunker.fill_ratio" -> "ratio",
    "chunker.overlap_share" -> "ratio",
    "tokenizer.calls" -> "count", "tokenizer.tokens" -> "count",
    "tokenizer.self_s" -> "s",
    "embedder.batches" -> "count", "embedder.texts" -> "count",
    "embedder.chars" -> "count", "embedder.self_s" -> "s",
    "validation.job_s" -> "s", "validation.rows_rejected" -> "count",
    "engine.embed_job_s" -> "s", "engine.docs_in" -> "count",
    "engine.docs_valid" -> "count", "engine.chunks_out" -> "count",
    "spark.tasks" -> "count", "spark.core_busy_share" -> "ratio",
    "spark.task_skew" -> "ratio", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.result_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.jobs" -> "count",
    "spark.sched_delay_s" -> "s",
    "similarity.topk_s" -> "s", "similarity.vectors_scanned" -> "count",
    "query.embed_s" -> "s", "query.rejected" -> "count",
    "cleaner.calls" -> "count", "cleaner.self_s" -> "s",
    "trace.overhead_share" -> "ratio")

  val perLayer: Seq[String] = perLayerUnits.map(_._1)

  /** Every per-layer metric, zero where `values` has none: a layer the
    * workload does not exercise reads 0.
    */
  def layers(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- perLayer
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(",")}")
    perLayerUnits.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case s => str(s.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    val metrics = ms.map(m =>
      s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      metrics.mkString("\"metrics\": {", ", ", "}}")
  }
}
