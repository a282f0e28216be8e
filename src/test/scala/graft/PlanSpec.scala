package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale properties the engine claims
  * (pushdown, pruning, broadcast, shuffle counts, partitioning reuse) are
  * checked mechanically, not just eyeballed in `.explain` output.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("banded levenshtein rewrite: bounded comparisons get the threshold form, results unchanged") {
    // parquet-backed input so constant folding can't evaluate the filter
    // at plan time (a literal LocalRelation would)
    val df = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_name").as("a"), col("c_mktsegment").as("b"))
    val plain = df.filter(levenshtein(col("a"), col("b")) <= 12).count()
    spark.experimental.extraOptimizations =
      Seq(graft.plans.RewriteBandedLevenshtein)
    try {
      val q = df.filter(levenshtein(col("a"), col("b")) <= 12)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("Some(12)) >= 0"), s"rule did not fire:\n$opt")
      assert(q.count() == plain)
      val q2 = df.filter(levenshtein(col("a"), col("b")) < 13)
      assert(q2.queryExecution.optimizedPlan.toString.contains("Some(12)) >= 0"))
      assert(q2.count() == plain)
      // out-of-scope shape untouched: negative bound never matches
      val q3 = df.filter(levenshtein(col("a"), col("b")) <= -1)
      assert(!q3.queryExecution.optimizedPlan.toString.contains(">= 0"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("broadcast guard: an oversized hinted side falls back to shuffle join") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
    spark.experimental.extraOptimizations =
      Seq(graft.plans.GuardOversizedBroadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no ceiling configured → the hint is honored
      val hinted = l.join(broadcast(o), l("l_orderkey") === o("o_orderkey"))
      assert(hinted.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      // ceiling below orders' file size → hint stripped, shuffle join
      spark.conf.set(graft.plans.GuardOversizedBroadcast.ConfKey, "1024")
      val guarded = l.join(broadcast(o), l("l_orderkey") === o("o_orderkey"))
      val plan = guarded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.unset(graft.plans.GuardOversizedBroadcast.ConfKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("flagship embed pipeline plans zero exchanges") {
    val engine = new graft.engine.InceptionEngine()
    val plan = engine
      .embedDocuments(spark.read.parquet(s"$sf/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("flagship embed pipeline validates without a regex over the document text") {
    val engine = new graft.engine.InceptionEngine()
    val plan = engine
      .embedDocuments(spark.read.parquet(s"$sf/documents.parquet"))
      .queryExecution.executedPlan.toString
    // the length check is present, as the scalar walk's UDF
    assert(plan.contains("graft_text_error_type("), plan)
    assert(!plan.contains("trim("), plan)
    assert(!plan.contains("regexp_replace"), s"regex in the flagship plan:\n$plan")
  }

  test("flagship validation measures each document once") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF, StringTrim}
    import org.apache.spark.sql.execution.DataSourceScanExec
    val engine = new graft.engine.InceptionEngine()
    val plan = engine
      .embedDocuments(spark.read.parquet(s"$sf/documents.parquet"))
      .queryExecution.executedPlan
    val lengthUdfs = Set("graft_text_error_type", "graft_stripped_length")
    // evaluated expressions only: a scan node repeats its data filters
    val measures = plan.collect {
      case p if !p.isInstanceOf[DataSourceScanExec] => p.expressions
    }.flatten.flatMap(_.collect {
      case u: ScalaUDF if u.udfName.exists(lengthUdfs) => u: Expression
      case t: StringTrim => t
    })
    assert(measures.size == 1, s"${measures.size} length measures in:\n$plan")
  }

  test("pre-partitioned equi-join reuses the partitioning (no third exchange)") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .repartition(4, col("o_orderkey"))
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
      .repartition(4, col("l_orderkey"))
    val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .withColumn("x", col("l_quantity") * 2) // keep plan non-trivial
    // disable auto-broadcast so the join must consider distributions
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(exchanges == 2,
        s"expected exactly the 2 explicit repartitions, got $exchanges:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed tables co-locate the join: NO exchange in the plan") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
    graft.ops.Bucketing.writeBucketed(o, "orders_b", "o_orderkey", 4)
    graft.ops.Bucketing.writeBucketed(l, "lineitem_b", "l_orderkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.ops.Bucketing.colocatedJoin(
        spark, "lineitem_b", "orders_b", "l_orderkey", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("AQE skew join: a hot key is split at runtime (thresholds scaled down)") {
    import spark.implicits._
    // 50k rows on ONE key vs 50 rows spread — at production defaults the
    // skew threshold is 256MB; scale it down so the same machinery fires
    val hot = (1 to 50000).map(i => (1L, i)).toDF("k", "va")
    val dim = (1 to 50).map(i => (i.toLong, i)).toDF("k2", "vb")
    val dir = java.nio.file.Files.createTempDirectory("graft_skew")
    hot.write.parquet(s"$dir/hot")
    dim.write.parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.read.parquet(s"$dir/hot")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("k2"))
      // execute THIS dataset's query so its AdaptiveSparkPlan finalizes
      // (count() would plan a separate aggregate execution)
      assert(j.collect().length == 50000)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") &&
        finalPlan.contains("AQEShuffleRead skewed"),
        s"AQE skew split absent:\n$finalPlan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE coalesces over-provisioned shuffle partitions at runtime") {
    // shuffle.partitions is sized for the biggest stage; AQE shrinks the
    // small ones — the knob that lets one global setting serve 100 TB
    // fact scans and KB-sized dim aggregations in the same job
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val q = spark.read.parquet(s"$sf/nation.parquet")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      assert(q.collect().length == 5)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead coalesced"),
        s"AQE did not coalesce the 64-partition shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("AQE converts a shuffle join to broadcast when runtime stats come in small") {
    // static stats can't see through a selective filter; the runtime
    // re-plan can — no hint needed
    val confs = Seq(
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1MB",
      // static planner must NOT broadcast (force the SMJ starting point)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"runtime re-plan did not broadcast the filtered dim:\n$plan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a partition-keyed join probes only the dim-selected partitions") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val root = java.nio.file.Files.createTempDirectory("graft_dpp")
    // fact laid out hive-partitioned by event_type (the layout ops/Bucketing
    // and the LSH index use for O(selected/total) scans)
    spark.read.parquet(s"$sf/events.parquet")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$root/events_by_type")
    // dim carries a selective predicate on a real (non-literal) source so
    // the PartitionPruning rule sees a filtering side worth subscribing
    // to. NOTE: it must be a comparison (EqualTo here) — a bare boolean
    // attribute is not "likely selective" to Catalyst and DPP skips it.
    Seq(("purchase", "hot"), ("view", "cold"), ("click", "cold"),
      ("signup", "cold"), ("error", "cold"))
      .toDF("t", "grp").write.mode("overwrite").parquet(s"$root/type_dim")
    val fact = spark.read.parquet(s"$root/events_by_type")
    val dim = spark.read.parquet(s"$root/type_dim")
      .filter(col("grp") === "hot")
    val q = fact.join(dim, fact("event_type") === dim("t"))
      .agg(count(lit(1)).as("n"))
    val plan = q.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("dynamicpruning"),
      s"no dynamic-pruning subscription on the partitioned scan:\n$plan")
    // and the pruned result is still correct
    val n = q.collect()(0).getLong(0)
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "purchase").count()
    assert(n == expected)
  }

  test("runtime bloom-filter pruning: a selective dim filter injects might_contain on the fact scan") {
    // the shuffle-join sibling of DPP: rows, not partitions, pruned at
    // the fact scan before the join shuffle — the mechanism that keeps a
    // selective dim⋈fact join from shuffling the full 100 TB fact side
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom probe on the fact side:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        "no bloom build on the filtered dim side")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("persist(): downstream actions read the in-memory cache, not the parquet scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("n"))
      .persist()
    try {
      docs.count() // materialize
      val plan = docs.filter(col("n") > 10).queryExecution.executedPlan
        .toString
      // the action must be served by the cache: its top-level scan is the
      // in-memory one, with the filter pushed into it. (InMemoryRelation
      // prints its BUILD plan — a FileScan below it is the recipe, not a
      // rescan.)
      assert(plan.contains("InMemoryTableScan"),
        s"expected cached scan, got:\n$plan")
      assert(plan.indexOf("InMemoryTableScan") <
        plan.indexOf("FileScan parquet"),
        s"parquet scanned outside the cached relation:\n$plan")
      // predicate is evaluated against cached batches (pushed into the
      // InMemoryTableScan node), not recomputed upstream
      assert(plan.replaceAll("#\\d+L?", "")
        .contains("InMemoryTableScan [doc_id, n], [isnotnull(n), (n > 10)]"),
        s"filter not pushed to cached scan:\n$plan")
    } finally docs.unpersist()
  }

  test("SQL join hints are honored: BROADCAST, MERGE, SHUFFLE_HASH pick their exec") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    c.createOrReplaceTempView("hint_c")
    o.createOrReplaceTempView("hint_o")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def planFor(hint: String): String = spark.sql(
        s"""SELECT /*+ $hint(hint_c) */ count(*)
            FROM hint_o JOIN hint_c ON o_custkey = c_custkey""")
        .queryExecution.executedPlan.toString
      assert(planFor("BROADCAST").contains("BroadcastHashJoin"))
      assert(planFor("MERGE").contains("SortMergeJoin"))
      assert(planFor("SHUFFLE_HASH").contains("ShuffledHashJoin"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }
}
