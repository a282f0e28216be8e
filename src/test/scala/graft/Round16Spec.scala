package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 spec: the mechanical single-partition-window audit over the
  * WHOLE gate surface.
  */
class Round16Spec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // The gate queries include SQL-surface gates that need the injected
    // parser; extensions apply only at session construction, so rebuild
    // if an earlier suite built the shared session without them.
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

  /** Every physical node in `p`, looking through the AQE wrapper and
    * into cached-relation plans (a window hidden inside a persisted
    * subtree is still a window at scale).
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case s: InMemoryTableScanExec =>
        (s: SparkPlan) +: allNodes(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => (a: SparkPlan) +: allNodes(a.inputPlan)
      case n => Seq(n)
    }

  /** The documented-bound rule: a single-partition window is acceptable
    * ONLY when its input is provably small — its child subtree contains
    * an aggregate (vocab/bucket/day-keyed state, never the corpus) or an
    * explicit limit/top-k head. This is the "caches are aggregates"
    * audit (Round11Spec) applied to windows.
    */
  private def boundedBelow(p: SparkPlan): Boolean =
    allNodes(p).exists {
      case _: BaseAggregateExec        => true
      case _: GlobalLimitExec          => true
      case _: CollectLimitExec         => true
      case _: TakeOrderedAndProjectExec => true
      case _ => false
    }

  test("no gate query plans a single-partition window over an unbounded " +
      "(non-aggregate, non-limited) input") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    // sparkPlan (pre-AQE) is where window partitioning is decided; AQE
    // never re-partitions a window, so this is the authoritative shape.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.sparkPlan
        catch {
          case e: Throwable =>
            fail(s"$name failed to plan at $sf: ${e.getMessage}")
        }
      allNodes(plan).foreach {
        case w: WindowExecBase if w.partitionSpec.isEmpty =>
          if (!boundedBelow(w.child))
            offenders += s"$name: ${w.nodeName} over ${w.child.nodeName}"
        case _ => ()
      }
      spark.sharedState.cacheManager.clearCache()
    }
    assert(offenders.isEmpty,
      s"single-partition windows over unbounded inputs:\n  " +
        offenders.mkString("\n  "))
  }
}
