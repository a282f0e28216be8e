package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 spec: the self-disabling fanout. */
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

  test("fanout self-disables when the optimizer's size estimate implies " +
      "at least parallelism scan splits (r16 VERDICT 'what's wrong' #4)") {
    def roundRobins(q: String): Int = {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      allNodes(plan).count(_.toString.contains("RoundRobinPartitioning"))
    }
    // default 128 MB maxPartitionBytes: the tiny fixture estimates a
    // single split, fanout fires its repartition-to-parallelism
    assert(roundRobins("q_breusch_pagan") >= 1,
      "small-estimate input must fire the fanout repartition")
    // a split estimate >= parallelism (the 100 TB shape, simulated by
    // shrinking maxPartitionBytes below fixtureBytes/parallelism)
    // makes fanout a no-op — no RoundRobin exchange in the plan
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      assert(roundRobins("q_breusch_pagan") == 0,
        "large-estimate input must leave the plan repartition-free")
    } finally spark.conf.set(key, prev)
  }
}
