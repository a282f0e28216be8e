package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity of two ARRAY<FLOAT>
  * columns, with whole-stage codegen.
  *
  * The composable alternative (`zip_with` product + `aggregate` fold —
  * see Similarity.cosineCol) materializes an intermediate array per row
  * and interprets two lambda expressions; at ANN-scan scale (every row of
  * a 100 TB corpus) the allocation and lambda dispatch dominate. This
  * expression is a single fused loop in generated Java: no allocation, no
  * virtual calls, auto-vectorizable.
  *
  * Null elements inside either array are treated as 0 contribution;
  * length mismatch uses the common prefix (same as Embedder.cosine).
  *
  * Constant query: when `right` is foldable (a top-k's query literal),
  * the generated loop reads the query from a primitive `double[]` handed
  * in through `ctx.addReferenceObj`, not from the literal's boxed
  * `ArrayData`, and takes the query's squared norm over the common prefix
  * from a prefix-sum table built once, not re-summed on every row. The
  * code text does not depend on the query, so every query reuses one
  * compiled class. A left array type with `containsNull = false` skips
  * the per-element `isNullAt`. Each sum is the same double sum in the
  * same order as the generic loop, so the result is bit-identical to it.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // AbstractDataType is private[sql]; DataType covariantly satisfies the
  // override and pins the exact input types
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yi = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (right.foldable) right.eval() match {
      case q: ArrayData => constantQueryCode(ctx, ev, q)
      case _ => genericCode(ctx, ev)
    } else genericCode(ctx, ev)

  private def genericCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.isNullAt($i) ? 0.0 : (double) $a.getFloat($i);
         |  double $yi = $b.isNullAt($i) ? 0.0 : (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  /** The loop for a constant query `q`: `qs(i)` is element i as a double
    * (a null element is 0.0), `nbs(n)` the in-order sum of the first n
    * squares, i.e. the `nb` the generic loop reaches after n steps.
    */
  private def constantQueryCode(ctx: CodegenContext, ev: ExprCode, q: ArrayData): ExprCode = {
    val m = q.numElements()
    val qs = new Array[Double](m)
    val nbs = new Array[Double](m + 1)
    var j = 0
    while (j < m) {
      qs(j) = if (q.isNullAt(j)) 0.0 else q.getFloat(j).toDouble
      nbs(j + 1) = nbs(j) + qs(j) * qs(j)
      j += 1
    }
    val qRef = ctx.addReferenceObj("cosineQuery", qs, "double[]")
    val nbRef = ctx.addReferenceObj("cosineQueryNorms", nbs, "double[]")
    val l = left.genCode(ctx)
    val a = l.value
    val qv = ctx.freshName("q")
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val xi = ctx.freshName("xi")
    val load =
      if (left.dataType.asInstanceOf[ArrayType].containsNull)
        s"$a.isNullAt($i) ? 0.0 : (double) $a.getFloat($i)"
      else s"(double) $a.getFloat($i)"
    val loop =
      s"""
         |double[] $qv = $qRef;
         |int $n = java.lang.Math.min($a.numElements(), $qv.length);
         |double $dot = 0.0; double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $load;
         |  $dot += $xi * $qv[$i]; $na += $xi * $xi;
         |}
         |double $nb = $nbRef[$n];
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    if (left.nullable)
      ev.copy(code = code"""
        |${l.code}
        |boolean ${ev.isNull} = ${l.isNull};
        |double ${ev.value} = 0.0;
        |if (!${ev.isNull}) {
        |  $loop
        |}""".stripMargin)
    else
      ev.copy(code = code"""
        |${l.code}
        |double ${ev.value} = 0.0;
        |$loop""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  val name = "graft_cosine"

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getCanonicalName, null, name,
    "_FUNC_(a, b) - cosine similarity of two float vectors.",
    "", "", "", "", "", "", "scala_udf")

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"$name takes exactly 2 arguments")
    CosineSimilarity(exprs.head, exprs(1))
  }

  /** Register in the session's function registry (idempotent); use via
    * `call_function` or SQL `graft_cosine(a, b)`.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Column API over the registered function. Caller must have invoked
    * [[register]] on the session (ops/Similarity and GraftExtensions do).
    */
  def cosine(a: Column, b: Column): Column = call_function(name, a, b)
}
