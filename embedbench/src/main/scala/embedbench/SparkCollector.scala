package embedbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.embedbench.ListenerBusDrain
import org.apache.spark.scheduler._

/** Task-level Spark numbers of one job group (one benchmark operation). */
final class GroupStats {
  var jobs = 0
  var jobWallMs = 0L
  val taskRunMs = ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var schedDelayMs = 0L

  def tasks: Int = taskRunMs.length

  /** Σ task run time / (job wall time × cores). */
  def coreBusyShare(cores: Int): Double =
    if (jobWallMs <= 0) 0.0 else taskRunMs.sum.toDouble / (jobWallMs.toDouble * cores)

  /** Slowest task / median task. */
  def taskSkew: Double =
    if (taskRunMs.isEmpty) 0.0
    else {
      val med = Stats.median(taskRunMs.map(_.toDouble).toSeq)
      if (med <= 0) 0.0 else taskRunMs.max / med
    }
}

/** A SparkListener the benchmark registers for its traced run and removes
  * afterwards. It attributes every job, stage and task to the job group
  * the benchmark set for the operation that caused it, and records job,
  * stage and task spans parented by that operation's span.
  */
final class SparkCollector(sc: SparkContext, tracer: Tracer) extends SparkListener {

  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val opSpans = new ConcurrentHashMap[String, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  /** Declares the span that Spark work of `group` is parented by. */
  def bind(group: String, spanId: Long): Unit = opSpans.put(group, spanId)

  def install(): this.type = { sc.addSparkListener(this); this }

  def remove(): Unit = { drain(); sc.removeSparkListener(this) }

  def drain(): Unit = ListenerBusDrain(sc)

  /** Stats of a finished group; call [[drain]] first. */
  def stats(group: String): GroupStats =
    Option(groups.get(group)).getOrElse(new GroupStats)

  private def statsFor(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  private def ns(ms: Long): Long = ms * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, group)
    jobSpan.put(e.jobId, tracer.nextId())
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach { s =>
      stageJob.put(s, e.jobId)
      stageSpan.putIfAbsent(s, tracer.nextId())
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val group = jobGroup.getOrDefault(e.jobId, "")
    val start = Option(jobStartMs.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val st = statsFor(group)
    st.synchronized {
      st.jobs += 1
      st.jobWallMs += e.time - start
    }
    val parent = Option(opSpans.get(group)).map(_.longValue).getOrElse(0L)
    tracer.add(Span(jobSpan.get(e.jobId), parent, "spark.job", group,
      ns(start), ns(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = stageJob.getOrDefault(info.stageId, -1)
    val group = jobGroup.getOrDefault(job, "")
    for (a <- info.submissionTime; b <- info.completionTime)
      tracer.add(Span(stageSpan.computeIfAbsent(info.stageId, _ => tracer.nextId()),
        Option(jobSpan.get(job)).map(_.longValue).getOrElse(0L),
        "spark.stage", group, ns(a), ns(b)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val group = jobGroup.getOrDefault(job, "")
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val st = statsFor(group)
      st.synchronized {
        st.taskRunMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.resultBytes += m.resultSize
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        // the Spark UI's scheduler delay: the part of the task's life
        // spent neither deserializing, running nor returning its result
        val fetching =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetching)
      }
    }
    tracer.add(Span(tracer.nextId(),
      Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L),
      "spark.task", group, ns(info.launchTime), ns(info.finishTime)))
  }
}
