package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, ExecutionException, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.config.EngineConfig
import graft.embed.{Embedder, EmbeddingModel}
import graft.engine.{InceptionEngine, Metrics}
import graft.text.{Chunker, TextCleaner}
import graft.util.OrderedFanOut

/** The flagship kernel's in-task fan-out: an under-split stage (one
  * partition on a `local[4]` session) runs its per-document chunk-and-
  * embed work on [[OrderedFanOut]] threads, and must give exactly the
  * rows, order, metrics and failures of the one-thread path.
  */
class FanOutSpec extends AnyFunSuite with TimeLimits {
  import FanOutSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private implicit val signaler: Signaler = ThreadSignaler

  private val conf = EngineConfig.default

  /** The golden fixture, the golden adversarial texts and 24 generated
    * documents from a few words to several chunks long.
    */
  private val texts: Vector[String] = {
    val rnd = new scala.util.Random(7)
    val words = Vector("court", "held", "the", "appellant", "v.", "No.",
      "statute", "Inc.", "jurisdiction", "a", "U.S.", "reversed", "§",
      "café", " ", "12", "J.", "evidence")
    val generated = (1 to 24).map { _ =>
      Vector.fill(1 + rnd.nextInt(120)) {
        Vector.fill(3 + rnd.nextInt(25))(words(rnd.nextInt(words.size)))
          .mkString(" ") + (if (rnd.nextBoolean()) "." else "?")
      }.mkString(if (rnd.nextInt(5) == 0) "\n\n" else " ")
    }
    (GoldenFixtureSpec.text +: GoldenFixtureSpec.adversarial) ++ generated
  }

  /** One partition, rows in `texts` order, ids 1..n. */
  private def onePartition: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }
      .toDF("doc_id", "text").coalesce(1)
  }

  private def slots = spark.sparkContext.defaultParallelism

  test("fan-out width rule: slots over partitions, capped at cores") {
    assert(InceptionEngine.fanOutWidth(slots = 4, partitions = 1, cores = 4) == 4)
    assert(InceptionEngine.fanOutWidth(slots = 4, partitions = 4, cores = 4) == 1)
    assert(InceptionEngine.fanOutWidth(slots = 4, partitions = 8, cores = 4) == 1)
    assert(InceptionEngine.fanOutWidth(slots = 4, partitions = 2, cores = 4) == 2)
    assert(InceptionEngine.fanOutWidth(slots = 16, partitions = 1, cores = 4) == 4)
    assert(InceptionEngine.fanOutWidth(slots = 1, partitions = 1, cores = 4) == 1)
  }

  test("fan-out: one-partition flagship and exploded output equal direct per-doc Chunker + Embedder") {
    val expected = texts.zipWithIndex.collect {
      case (t, i) if {
            val n = TextCleaner.strippedLength(t)
            n >= conf.minTextLength && n <= conf.maxTextLength
          } =>
        val chunks = Chunker.split(t, conf.maxTokens, conf.numOverlapSentences)
        (i + 1L, chunks.map(_.replace(Chunker.LeadText, "")),
          Embedder.embedBatch(chunks).toVector)
    }
    assert(expected.size >= 30)
    assert(expected.exists(_._2.size > 3), "some document must span chunks")
    val engine = new InceptionEngine(conf)
    val flag = engine.embedDocuments(onePartition).collect().toVector
    assert(flag.map(_.doc_id) == expected.map(_._1), "rows or their order")
    flag.zip(expected).foreach { case (got, (id, chunks, vecs)) =>
      assert(got.embeddings.map(_.chunk_number) == (1 to chunks.size), s"doc $id")
      assert(got.embeddings.map(_.chunk) == chunks, s"doc $id chunk text")
      got.embeddings.zip(vecs).foreach { case (e, v) =>
        assert(java.util.Arrays.equals(e.embedding, v),
          s"doc $id chunk ${e.chunk_number} vector bytes")
      }
    }
    val expl = engine.embedDocumentsExploded(onePartition).collect().toVector
    val flat = expected.flatMap { case (id, chunks, vecs) =>
      chunks.indices.map(i => (id, i + 1, chunks(i), vecs(i)))
    }
    assert(expl.size == flat.size)
    expl.zip(flat).foreach { case (got, (id, n, chunk, v)) =>
      assert(got.doc_id == id && got.chunk_number == n && got.chunk == chunk,
        s"exploded row ($id, $n)")
      assert(java.util.Arrays.equals(got.embedding, v), s"exploded ($id, $n)")
    }
  }

  test("fan-out: an under-split stage embeds on fan-out threads, a full one on the task thread") {
    val engine = new InceptionEngine(conf, modelOverride = Some(ThreadRecorder))
    ThreadRecorder.threads.clear()
    engine.embedDocuments(onePartition).count()
    val fanned = ThreadRecorder.threads.asScala.toSet
    if (InceptionEngine.fanOutWidth(slots, 1,
        Runtime.getRuntime.availableProcessors()) > 1)
      assert(fanned.nonEmpty && fanned.forall(_.startsWith("graft-fanout-")),
        fanned)
    ThreadRecorder.threads.clear()
    engine.embedDocuments(onePartition.repartition(slots)).count()
    val direct = ThreadRecorder.threads.asScala.toSet
    assert(direct.nonEmpty && direct.forall(!_.startsWith("graft-fanout-")),
      direct)
  }

  test("fan-out: a failing model fails the job with its own exception, without hanging") {
    val engine = new InceptionEngine(conf, modelOverride = Some(PoisonModel))
    val err = failAfter(Span(120, Seconds)) {
      intercept[Exception] {
        engine.embedDocuments(onePartition).collect()
      }
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toVector
    assert(chain.exists(e => e.isInstanceOf[PoisonPill] &&
      e.getMessage == PoisonPill.Message), chain)
    assert(!chain.exists(_.isInstanceOf[ExecutionException]), chain)
    // the shared pool survives a failed task
    assert(new InceptionEngine(conf).embedDocuments(onePartition).count() ==
      new InceptionEngine(conf).embedDocuments(onePartition.repartition(slots)).count())
  }

  test("fan-out: chunk_count and processing_time observations equal the width-1 run's") {
    def counts(df: DataFrame): (Long, Long, Long) = {
      val m = new Metrics(spark.sparkContext)
      val n = new InceptionEngine(conf, Some(m)).embedDocuments(df).count()
      val snap = m.snapshot
      (n, snap("chunk_count.text"), snap("processing_time.batch.count"))
    }
    val fanned = counts(onePartition)
    val single = counts(onePartition.repartition(slots))
    assert(fanned == single)
    val (docs, chunks, observed) = fanned
    assert(observed == docs, "one observation per document")
    assert(chunks > docs)
  }

  test("OrderedFanOut: input order kept under uneven work, at most 2 x width in flight") {
    val pulled = new AtomicInteger(0)
    var returned = 0
    var maxInFlight = 0
    val in = Iterator.range(0, 200).map { i => pulled.incrementAndGet(); i }
    val out = OrderedFanOut.map(in, 3) { i =>
      Thread.sleep((i * 7919) % 5L)
      i * 2
    }.map { r =>
      returned += 1
      maxInFlight = math.max(maxInFlight, pulled.get() - returned + 1)
      r
    }.toVector
    assert(out == Vector.tabulate(200)(_ * 2))
    assert(maxInFlight <= 6, s"in flight: $maxInFlight")
  }

  test("OrderedFanOut: a worker failure surfaces unwrapped; close cancels pending work") {
    val boom = new IllegalStateException("worker failed")
    val failing = OrderedFanOut.map(Iterator(1, 2, 3), 2) { i =>
      if (i == 2) throw boom else i
    }
    assert(failing.next() == 1)
    assert(intercept[IllegalStateException](failing.next()) eq boom)

    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val pulled = new AtomicInteger(0)
    val blocked = OrderedFanOut.map(
        Iterator.from(0).map { i => pulled.incrementAndGet(); i }, 2) { i =>
      started.countDown()
      try Thread.sleep(60000L)
      catch { case _: InterruptedException => interrupted.countDown() }
      i
    }
    assert(blocked.hasNext)
    assert(started.await(30, TimeUnit.SECONDS))
    blocked.close()
    assert(!blocked.hasNext)
    assert(pulled.get() == 4, "reads no further than the window")
    assert(interrupted.await(30, TimeUnit.SECONDS),
      "close must interrupt the running work")
  }
}

object FanOutSpec {

  final class PoisonPill extends RuntimeException(PoisonPill.Message)
  object PoisonPill { val Message = "poisoned chunk" }

  /** Fails on any chunk of the generated documents that mentions a
    * statute; embeds everything else normally.
    */
  object PoisonModel extends EmbeddingModel {
    def dim: Int = Embedder.dim
    def embed(text: String): Array[Float] =
      if (text.contains("statute")) throw new PoisonPill else Embedder.embed(text)
  }

  /** The hashing kernel, recording the name of every thread it ran on. */
  object ThreadRecorder extends EmbeddingModel {
    val threads: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    def dim: Int = Embedder.dim
    def embed(text: String): Array[Float] = {
      threads.add(Thread.currentThread().getName)
      Embedder.embed(text)
    }
  }
}
