package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
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
