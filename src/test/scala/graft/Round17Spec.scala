package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 specs: the de-single-partitioned q_roc_auc /
  * q_weighted_median / q_ngram_coverage / q_skew_audit plans (r16 VERDICT
  * asks #3/#4) and the self-disabling fanout.
  */
class Round17Spec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.conf.getOption("spark.sql.extensions")
        .contains("graft.GraftExtensions"))
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val sf = "/root/testdata/sf0.001"

  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case s: InMemoryTableScanExec =>
        (s: SparkPlan) +: allNodes(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => (a: SparkPlan) +: allNodes(a.inputPlan)
      case n => Seq(n)
    }

  test("q_roc_auc / q_weighted_median / q_skew_audit run their domain " +
      "windows PARTITIONED (bucketed prefix-sum recipe, r16 VERDICT " +
      "asks #3/#4); q_ngram_coverage bounds its window with a top-k") {
    for (q <- Seq("q_roc_auc", "q_weighted_median", "q_skew_audit")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val wins = allNodes(plan).collect { case w: WindowExecBase => w }
      assert(wins.exists(_.partitionSpec.nonEmpty),
        s"$q must keep a bucket-PARTITIONED domain window")
      // the only unpartitioned windows left are the bounded carry
      // chains over the bucket aggregate (the Round16Spec audit pins
      // the boundedness rule mechanically for every gate)
    }
    val ng = SparkEntry.queries("q_ngram_coverage")(spark, sf)
      .queryExecution.sparkPlan
    assert(allNodes(ng).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "q_ngram_coverage must bound its rank window with a parallel " +
        "top-k (TakeOrderedAndProject), not a vocab-sized global sort")
  }

  test("fanout self-disables when the optimizer's size estimate implies " +
      "at least parallelism scan splits (r16 VERDICT 'what's wrong' #4)") {
    def roundRobins(q: String): Int = {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      allNodes(plan).count(_.toString.contains("RoundRobinPartitioning"))
    }
    // default 128 MB maxPartitionBytes: the tiny fixture estimates a
    // single split, fanout fires its repartition-to-parallelism
    assert(roundRobins("q_bootstrap_ci") >= 1,
      "small-estimate input must fire the fanout repartition")
    // a split estimate >= parallelism (the 100 TB shape, simulated by
    // shrinking maxPartitionBytes below fixtureBytes/parallelism)
    // makes fanout a no-op — no RoundRobin exchange in the plan
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      assert(roundRobins("q_bootstrap_ci") == 0,
        "large-estimate input must leave the plan repartition-free")
    } finally spark.conf.set(key, prev)
  }
}
