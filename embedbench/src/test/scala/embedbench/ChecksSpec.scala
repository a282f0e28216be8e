package embedbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.config.EngineConfig
import graft.engine.{ChunkEmbedding, DocumentEmbeddings}
import graft.ops.Similarity

class ChecksSpec extends AnyFunSuite {

  private val conf = EngineConfig(maxTokens = 60)
  private val docs = Gen.opinions(11, 3).map(d => d.copy(text = d.text.take(3000)))

  /** The output a correct engine returns for `docs`. */
  private val good: Vector[DocumentEmbeddings] = docs.map { d =>
    val s = Checks.direct(d.id, d.text, conf)
    DocumentEmbeddings(d.id, s.chunks.indices.map(i =>
      ChunkEmbedding(i + 1, s.chunks(i), s.vectors(i))))
  }
  private val ids = docs.map(_.id).sorted
  private val sampled = Seq(Checks.direct(docs.head.id, docs.head.text, conf))
  private val sampleIds = sampled.map(_.docId).toSet

  private def check(out: Seq[DocumentEmbeddings], ref: Option[Long] = None) =
    Checks.checkCorpus(Checks.fold(out.iterator, sampleIds), ids, sampled, ref)

  private def edit(docIdx: Int)(f: Seq[ChunkEmbedding] => Seq[ChunkEmbedding]) =
    good.updated(docIdx, good(docIdx).copy(embeddings = f(good(docIdx).embeddings)))

  test("a correct output passes, also folded over several partitions") {
    assert(good.forall(_.embeddings.length > 2))
    assert(check(good).isEmpty)
    val parts = good.grouped(2).map(p => Checks.fold(p.iterator, sampleIds))
      .foldLeft(CorpusSummary.empty)(_ merge _)
    assert(parts.digest == Checks.fold(good.iterator, sampleIds).digest)
    assert(Checks.checkCorpus(parts, ids, sampled, None).isEmpty)
  }

  test("a dropped middle chunk breaks chunk_number contiguity") {
    val errs = check(edit(1)(es => es.patch(1, Nil, 1)))
    assert(errs.exists(_.contains("not contiguous")))
  }

  test("a dropped last chunk of a sampled doc differs from a direct split") {
    val errs = check(edit(0)(_.dropRight(1)))
    assert(errs.exists(_.contains("chunks differ")))
  }

  test("a dropped last chunk of an unsampled doc changes the digest") {
    val ref = Checks.fold(good.iterator, sampleIds).digest
    assert(check(good, Some(ref)).isEmpty)
    assert(check(edit(2)(_.dropRight(1)), Some(ref)).exists(_.contains("digest")))
  }

  test("a dropped document leaves the valid-doc set") {
    assert(check(good.drop(1)).exists(_.contains("valid-doc set")))
  }

  test("a wrong-dimension or unnormalized vector is caught") {
    val short = edit(2)(es => es.updated(0, es(0).copy(embedding = es(0).embedding.take(767))))
    assert(check(short).exists(_.contains("not 768-d")))
    val scaled = edit(2)(es => es.updated(0, es(0).copy(embedding = es(0).embedding.map(_ * 2))))
    assert(check(scaled).exists(_.contains("unit-norm")))
  }

  test("a changed vector of a sampled doc differs from a direct embed") {
    val v = good(0).embeddings(0).embedding.clone()
    val t = v(0); v(0) = v(1); v(1) = t
    assert(check(edit(0)(es => es.updated(0, es(0).copy(embedding = v))))
      .exists(_.contains("vectors differ")))
  }

  test("a swapped top-k id is caught") {
    assert(Checks.checkTopK(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)).isEmpty)
    assert(Checks.checkTopK(Seq(1L, 3L, 2L), Seq(1L, 2L, 3L)).nonEmpty)
  }

  test("the driver-side exact top-k equals the engine's bruteForceTopK") {
    val spark = SparkSession.builder().master("local[2]").appName("ChecksSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val r = new java.util.SplittableRandom(5)
      // coarse values so that many scores tie after rounding to 4 dp
      val vecs = Array.fill(3000)(Array.fill(16)((r.nextInt(5) - 2).toFloat))
      val ids = Array.tabulate(vecs.length)(i => 10000L - i)
      val df = ids.zip(vecs).toSeq.toDF("vec_id", "embedding")
      val norms = vecs.map(Checks.squaredNorm)
      (0 until 5).foreach { _ =>
        val q = Array.fill(16)(r.nextDouble().toFloat - 0.5f)
        val engine = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toVector
        assert(Checks.exactTopK(ids, vecs, norms, q, 10) == engine)
      }
    } finally spark.stop()
  }
}
