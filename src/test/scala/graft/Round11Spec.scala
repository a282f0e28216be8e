package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 specs: the persist-audit contract (no token-instance-level
  * cache state in any corpus-statistics query plan) and advice-fix
  * regressions.
  */
class Round11Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The §8.x persist-audit rule, checked mechanically: every cache a
    * query plans over must hold POST-AGGREGATION state (counts/arrays
    * keyed by vocab, class, or phrase), never the raw exploded token
    * stream — the shape that is corpus-sized at 100 TB. Each cached
    * relation's physical plan must therefore end in an aggregate.
    */
  test("corpus-statistics caches are aggregates, never raw token rows") {
    val audited = Seq("q_rake_keywords")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val cached = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(cached.nonEmpty, s"$name: expected at least one cache")
      cached.foreach { r =>
        // look through the AQE wrapper: its input plan is not a child
        def aggCount(p: org.apache.spark.sql.execution.SparkPlan): Int =
          p.collect {
            case a: BaseAggregateExec => 1
            case aqe: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => aggCount(aqe.inputPlan)
          }.sum
        assert(aggCount(r.cachedPlan) > 0,
          s"$name caches a non-aggregated relation " +
            s"(output ${r.output.map(_.name).mkString(",")}) — " +
            "token-instance-level state, corpus-sized at scale")
      }
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("dHash56 thumbnails the WHOLE image, not the top-left corner, " +
      "and matches resize-to-8x8-then-hash exactly") {
    import graft.ops.Multimodal
    // top-left 8×8 is uniform; the right half is bright — a corner
    // hash reads 0, a real thumbnail hash sees the step
    val big = Multimodal.encodePng(16, 16,
      (x, _) => if (x < 8) (50, 50, 50) else (200, 50, 50))
    val h = Multimodal.dHash56(big)
    assert(h != 0L, "hash covered only the uniform corner")
    assert(h == Multimodal.dHash56(Multimodal.resizeImage(big, 8, 8)),
      "in-hash thumbnail must equal the nearest-neighbor resize path")
    // identity on an already-8×8 input (the in-repo caller contract)
    val small = Multimodal.encodePng(8, 8, (x, y) => (x * 30, y, 0))
    assert(Multimodal.dHash56(small) ==
      Multimodal.dHash56(Multimodal.resizeImage(small, 8, 8)))
    // sub-8×8 and garbage still group visibly at -1
    assert(Multimodal.dHash56(
      Multimodal.encodePng(4, 4, (_, _) => (1, 2, 3))) == -1L)
    assert(Multimodal.dHash56("junk".getBytes) == -1L)
  }

  test("personalized PageRank: mass concentrates on/near the seeds, " +
      "guards reject empty or foreign seed sets without cache leaks") {
    // path graph 1-2-3-4-5 (symmetric), seed at node 1
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = graft.ops.PageRank.personalizedRanks(e, "src", "dst",
        seeds, iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDecimal(1).doubleValue())
      .toMap
    // proximity ordering to the single seed must be monotone
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > r(4L),
      s"ranks not seed-proximal: $r")
    // total mass <= 1 (dangling-free symmetric graph conserves it)
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
    // error paths run before any localCheckpoint, so the persistent-RDD
    // set must be untouched afterwards (the Katz leak contract; the
    // SUCCESS path intentionally leaves checkpoint blocks for the
    // ContextCleaner, so set equality is only checkable here)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      graft.ops.PageRank.personalizedRanks(e, "src", "dst",
        spark.emptyDataset[Long].toDF("node"), iters = 1)
    }
    intercept[IllegalArgumentException] {
      graft.ops.PageRank.personalizedRanks(e, "src", "dst",
        Seq(99L).toDF("node"), iters = 1)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "personalizedRanks error path left cached datasets behind")
  }

  test("graft_lev_bounded stays inside whole-stage codegen (no UDF " +
      "encoder round-trip, no BatchEvalPython-style fence)") {
    graft.functions.BoundedLevenshtein.register(spark)
    // parquet-backed input: a Seq-literal frame constant-folds to a
    // LocalTableScan at plan time and proves nothing about codegen
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 20)
      .selectExpr("graft_lev_bounded(text, concat(text, 'x'), 5) AS d")
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a whole-stage-codegen stage; the
    // expression's Project must carry it (a CodegenFallback expression
    // would strip the star from its stage)
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_lev_bounded") && l.trim.startsWith("*(")),
      s"bounded levenshtein fell out of codegen:\n$plan")
    assert(df.as[Int].collect().forall(_ == 1)) // one appended char
  }

  test("Katz on an empty graph throws without leaking cached datasets") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    intercept[IllegalArgumentException] {
      graft.ops.Katz.scores(e, "src", "dst", iters = 2)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "empty-graph throw left datasets in the block manager")
  }
}
