package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, Literal, Round}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CosineSimilarity
import graft.ops.Similarity

/** `Similarity.bruteForceTopK`'s plan and ranking: the query is one
  * literal, the cosine and the 4dp rank key are computed once per row
  * below the top-k, and the ranking equals the earlier formulation (kept
  * here as the spec) on scores that tie at 4 dp.
  */
class TopKSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The earlier `bruteForceTopK`: the query as one `lit` per element and
    * the rank key evaluated inside the top-k ordering.
    */
  private def specTopK(df: DataFrame, q: Array[Float], k: Int): DataFrame = {
    CosineSimilarity.register(df.sparkSession)
    df.select(
        col("vec_id").cast("long").as("vec_id"),
        CosineSimilarity.cosine(col("embedding"), array(q.toSeq.map(lit(_)): _*)).as("cosine"))
      .orderBy(round(col("cosine"), 4).desc, col("vec_id"))
      .limit(k)
  }

  /** An RDD-backed frame: no optimizer rule evaluates its projections at
    * planning time, as one would over a local relation.
    */
  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, 4).toDF("vec_id", "embedding")
  }

  private def vectors(n: Int, dim: Int, seed: Long): (DataFrame, java.util.SplittableRandom) = {
    val r = new java.util.SplittableRandom(seed)
    val vecs = Array.fill(n)(Array.fill(dim)(r.nextDouble(-1.0, 1.0).toFloat))
    (frame(vecs.indices.map(i => (i.toLong, vecs(i)))), r)
  }

  private def count(es: Seq[Expression])(p: PartialFunction[Expression, Unit]): Int =
    es.map(_.collect(p).length).sum

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  test("the analyzed plan holds the query as one literal, not a 768-child array") {
    val (df, r) = vectors(50, 768, 21)
    val q = Array.fill(768)(r.nextDouble(-1.0, 1.0).toFloat)
    val analyzed = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10)
      .queryExecution.analyzed
    val cosines = analyzed.flatMap(_.expressions.flatMap(_.collect { case c: CosineSimilarity => c }))
    assert(cosines.length == 1, s"one graft_cosine expected:\n$analyzed")
    cosines.head.right match {
      case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData, _: ArrayType) =>
        assert(v.numElements() == 768)
      case other => fail(s"query is not one literal: ${other.getClass.getSimpleName}")
    }
    assert(analyzed.flatMap(p => p.expressions.flatMap(_.collect { case c: CreateArray => c }))
      .isEmpty, s"no CreateArray expected:\n$analyzed")
  }

  test("the executed plan computes the cosine and the rank key once per row, below the top-k") {
    val (df, r) = vectors(200, 64, 22)
    val q = Array.fill(64)(r.nextDouble(-1.0, 1.0).toFloat)
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10)
    assert(top.columns.toSeq == Seq("vec_id", "cosine"))
    val optimized = top.queryExecution.optimizedPlan
    assert(count(optimized.flatMap(_.expressions)) { case _: CosineSimilarity => } == 1,
      s"CollapseProject must not copy the cosine:\n$optimized")
    val plan = executed(top)
    val takes = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(takes.length == 1, s"expected one TakeOrderedAndProject:\n$plan")
    val take = takes.head
    val inTake = take.sortOrder ++ take.projectList
    assert(count(inTake) { case _: Round => } == 0, s"round inside the top-k:\n$plan")
    assert(count(inTake) { case _: CosineSimilarity => } == 0, s"cosine inside the top-k:\n$plan")
    val projected = take.child.collect { case p: ProjectExec => p.projectList }.flatten
    assert(count(projected) { case _: CosineSimilarity => } == 1, s"one cosine per row:\n$plan")
    assert(count(projected) { case _: Round => } == 1, s"one rank key per row:\n$plan")
    assert(count(plan.collect { case p => p.expressions }.flatten) { case _: CosineSimilarity => } == 1,
      s"the cosine must be evaluated in one place:\n$plan")
  }

  test("scores tied at 4 dp: same ids and raw cosines as the earlier formulation") {
    val r = new java.util.SplittableRandom(23)
    // coarse components and scaled copies: many scores tie at 4 dp and
    // some differ only in the last ulp, so the id tiebreak decides
    val base = Array.fill(1500)(Array.fill(16)((r.nextInt(5) - 2).toFloat))
    val vecs = base ++ base.map(_.map(_ * 3f))
    val ids = vecs.indices.map(i => 100000L - 7L * i)
    val df = frame(ids.zip(vecs))
    var tiedQueries = 0
    for (_ <- 0 until 6; k <- Seq(10, 50)) {
      val q = Array.fill(16)(r.nextDouble(-0.5, 0.5).toFloat)
      val got = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, k).collect()
        .map(row => (row.getLong(0), java.lang.Double.doubleToRawLongBits(row.getDouble(1))))
      val spec = specTopK(df, q, k).collect()
        .map(row => (row.getLong(0), java.lang.Double.doubleToRawLongBits(row.getDouble(1))))
      assert(got.toSeq == spec.toSeq)
      val rounded = got.map(x => BigDecimal(java.lang.Double.longBitsToDouble(x._2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP))
      if (rounded.distinct.length < rounded.length) tiedQueries += 1
    }
    assert(tiedQueries > 0, "the data must produce ties at 4 dp inside the top-k")
  }
}
