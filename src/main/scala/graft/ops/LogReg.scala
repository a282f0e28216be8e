package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed batch-gradient-descent logistic regression with an
  * EXACT, engine-replayable training trajectory — the model-based
  * quality-filter stage of a curation pipeline (fastText-style
  * classifiers gating web text) reduced to its reproducible core.
  *
  * Why not MLlib's LogisticRegression: L-BFGS's float reductions make
  * the fitted weights partitioning-dependent, so no external oracle can
  * replay them. Here each per-document gradient contribution is rounded
  * to `dp` decimal places and summed as DECIMAL (exact, associative),
  * and each weight update is re-quantized with the same HALF_UP rule
  * Spark's `round()` uses — the whole trajectory is a pure function of
  * the data, byte-identical under any partitioning, and an engine that
  * can evaluate the same arithmetic reproduces every iteration bit-for-bit
  * (the [[PageRank]] determinism recipe applied to model training).
  *
  * Scale shape: one full-scan aggregate per iteration (map-side partial
  * sums of d decimals); the weight vector (d doubles) is the only
  * driver state. At 100 TB: O(iters) scans, no shuffle of rows at all.
  */
object LogReg {

  /** `featCols` are DOUBLE feature columns (include an explicit bias
    * column of 1.0); `labelCol` is a DOUBLE 0/1. Returns the weight
    * vector after `iters` batch GD steps from zero init:
    * w ← round(w − lr·Σ round((σ(w·x)−y)·xⱼ, dp) / n, dp).
    */
  def train(
      df: DataFrame,
      labelCol: String,
      featCols: Seq[String],
      iters: Int,
      lr: Double,
      dp: Int = 9): Array[Double] = {
    require(iters >= 1 && featCols.nonEmpty)
    val d = featCols.length
    val data = df.persist()
    try {
    val n = data.count()
    require(n > 0, "empty training set")
    var w = Array.fill(d)(0.0)
    for (_ <- 1 to iters) {
      val margin = featCols.zip(w)
        .map { case (f, wi) => s"(${fmt(wi)} * $f)" }.mkString(" + ")
      val sig = s"(1.0 / (1.0 + exp(-($margin))))"
      val aggs = featCols.zipWithIndex.map { case (f, j) =>
        sum(expr(s"CAST(round(($sig - $labelCol) * $f, $dp) " +
          s"AS DECIMAL(28,$dp))")).as(s"g$j")
      }
      val row = data.agg(aggs.head, aggs.tail: _*).head()
      w = w.zipWithIndex.map { case (wi, j) =>
        val g = row.getDecimal(j).doubleValue()
        // Same quantization as SQL round(x, dp): HALF_UP on the exact
        // decimal expansion of the double.
        BigDecimal(wi - lr * g / n)
          .setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    w
    // The returned value is a driver-side Array — the training cache
    // has no consumer after the loop, so release it here.
    } finally data.unpersist(blocking = false)
  }

  /** Mean log-loss of fixed weights over `df` — the convergence probe
    * (exact-decimal per-row accumulation, same determinism contract).
    */
  def logLoss(
      df: DataFrame, labelCol: String, featCols: Seq[String],
      w: Array[Double]): Double = {
    val margin = featCols.zip(w)
      .map { case (f, wi) => s"(${fmt(wi)} * $f)" }.mkString(" + ")
    val sig = s"(1.0 / (1.0 + exp(-($margin))))"
    val row = df.agg(
      sum(expr(s"CAST(round(-($labelCol * ln($sig) + " +
        s"(1.0 - $labelCol) * ln(1.0 - $sig)), 9) AS DECIMAL(28,9))"))
        .as("s"),
      count(lit(1)).as("n")).head()
    row.getDecimal(0).doubleValue() / row.getLong(1)
  }

  /** Round-trip-exact SQL literal for a double (Double.toString is
    * shortest-round-trip; SQL float literals parse back to the same
    * double).
    */
  private def fmt(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E")) s"CAST('$s' AS DOUBLE)" else s
  }
}
