package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CosineSimilarity

/** `graft_cosine`'s constant-query loop (a foldable query) against the
  * generic loop (a query column) and the interpreted `nullSafeEval`,
  * which stay the spec: every score must agree bit for bit, with
  * whole-stage codegen on and off.
  */
class CosineSimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session of its own, so the codegen setting stays in this suite. */
  private def session(wholeStage: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    CosineSimilarity.register(s)
    s
  }

  private def vecType(containsNull: Boolean) = ArrayType(FloatType, containsNull)

  private def randomVec(r: java.util.SplittableRandom, n: Int): Array[Float] =
    Array.fill(n)(r.nextDouble(-1.0, 1.0).toFloat)

  /** Rows `(id, v, q)`: `q` is the query in a column, so `graft_cosine(v, q)`
    * runs the generic loop; `nulls` allows null rows and null elements in
    * `v`. Built from an RDD so that no optimizer rule evaluates the
    * projection at planning time.
    */
  private def frame(s: SparkSession, vs: Seq[Seq[java.lang.Float]], q: Array[Float],
      nulls: Boolean): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", vecType(nulls), nullable = nulls),
      StructField("q", vecType(false), nullable = false)))
    val rows = vs.zipWithIndex.map { case (v, i) => Row(i, v, q.toSeq) }
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
  }

  private def boxed(v: Array[Float]): Seq[java.lang.Float] = v.toSeq.map(Float.box)

  /** Interpreted spec: `nullSafeEval` of the two values as literals. */
  private def interpreted(v: Seq[java.lang.Float], q: Array[Float]): Any =
    CosineSimilarity(
      Literal.create(v, vecType(true)),
      Literal.create(q.toSeq, vecType(false))).eval(null)

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case null => null
  }

  /** Scores of the constant-query column `const` against the generic
    * column and the interpreted spec, row by row, as raw double bits.
    */
  private def assertSameBits(df: DataFrame, const: org.apache.spark.sql.Column,
      vs: Seq[Seq[java.lang.Float]], q: Array[Float], what: String): Unit = {
    val got = df.select(col("id"), const.as("c"),
        CosineSimilarity.cosine(col("v"), col("q")).as("g"))
      .collect().sortBy(_.getInt(0))
    assert(got.length == vs.length)
    got.foreach { r =>
      val spec = interpreted(vs(r.getInt(0)), q)
      assert(bits(r.get(2)) == bits(spec), s"$what row ${r.getInt(0)}: generic ${r.get(2)} vs $spec")
      assert(bits(r.get(1)) == bits(spec), s"$what row ${r.getInt(0)}: constant ${r.get(1)} vs $spec")
    }
  }

  test("constant-query loop equals the generic loop bit for bit: null elements, null rows, " +
      "short, long, zero rows and a zero query") {
    val r = new java.util.SplittableRandom(11)
    val dim = 24
    val queries = Seq(randomVec(r, dim), randomVec(r, dim), new Array[Float](dim))
    val dense = Seq.fill(20)(randomVec(r, dim)) ++ Seq(
      randomVec(r, dim - 7), randomVec(r, dim + 9), new Array[Float](dim),
      Array.empty[Float], randomVec(r, 1))
    val withNulls: Seq[Seq[java.lang.Float]] = Seq(
      boxed(randomVec(r, dim)).updated(3, null).updated(10, null),
      boxed(randomVec(r, dim - 5)).updated(0, null),
      Seq.fill[java.lang.Float](dim)(null),
      null)
    for (wholeStage <- Seq(true, false); q <- queries) {
      val s = session(wholeStage)
      val what = s"wholeStage=$wholeStage"
      // a non-nullable column of containsNull = false: the loop skips isNullAt
      val vs = dense.map(boxed)
      assertSameBits(frame(s, vs, q, nulls = false),
        CosineSimilarity.cosine(col("v"), lit(q)), vs, q, s"$what dense")
      val mixed = vs ++ withNulls
      assertSameBits(frame(s, mixed, q, nulls = true),
        CosineSimilarity.cosine(col("v"), lit(q)), mixed, q, s"$what nullable")
    }
  }

  test("lit(Array[Float]) scores equal the old 768-child array(lit...) scores bit for bit") {
    val r = new java.util.SplittableRandom(12)
    val q = randomVec(r, 768)
    val vs = (Seq.fill(40)(randomVec(r, 768)) :+ randomVec(r, 500)).map(boxed)
    for (wholeStage <- Seq(true, false)) {
      val s = session(wholeStage)
      val df = frame(s, vs, q, nulls = false)
      assertSameBits(df, CosineSimilarity.cosine(col("v"), lit(q)), vs, q,
        s"wholeStage=$wholeStage lit")
      assertSameBits(df, CosineSimilarity.cosine(col("v"), array(q.toSeq.map(lit(_)): _*)), vs, q,
        s"wholeStage=$wholeStage array(lit...)")
    }
  }

  test("a literal query takes the constant-query loop, with one code text for every query") {
    def gen(q: Array[Float], containsNull: Boolean): (String, CodegenContext) = {
      val ctx = new CodegenContext
      val e = CosineSimilarity(
        BoundReference(0, vecType(containsNull), nullable = false), Literal.create(q.toSeq, vecType(false)))
      (e.genCode(ctx).code.toString, ctx)
    }
    val r = new java.util.SplittableRandom(13)
    val (c1, ctx1) = gen(randomVec(r, 768), containsNull = false)
    val (c2, _) = gen(randomVec(r, 16), containsNull = false)
    assert(c1 == c2, "the code text must not depend on the query")
    assert(ctx1.references.exists(_.isInstanceOf[Array[Double]]),
      "the query must reach the loop as a primitive double[]")
    assert(!c1.contains("isNullAt"), s"containsNull = false must skip isNullAt:\n$c1")
    assert(gen(randomVec(r, 16), containsNull = true)._1.contains("isNullAt"))
  }
}
