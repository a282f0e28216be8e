package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank with an EXACT, engine-portable state encoding.
  *
  * The usual PageRank-on-doubles is not reproducible across engines or
  * even across partitionings (contribution sums are order-dependent).
  * Here every per-edge contribution is rounded to a fixed 12 decimal
  * places and accumulated as DECIMAL, and each iteration's rank is
  * re-quantized to DECIMAL(28,12) — so the rank state after every
  * iteration is a pure function of the graph, byte-identical under any
  * partitioning and replayable by any engine that can divide doubles
  * (the BPE determinism recipe applied to an iterative fixpoint).
  *
  * Scale shape: per iteration one join of the rank table onto the edge
  * list (both keyed on src — co-partitioned after the first shuffle)
  * and one dst-keyed aggregation; edges and degrees are computed once
  * and persisted, and released before returning. Nothing is ever
  * collected to the driver except the node count (one scalar). At
  * 100 TB the cost is O(iters × (|E| shuffle + |V| agg)) — the
  * textbook layout.
  *
  * Lineage: each iteration `localCheckpoint`s its rank table (the
  * [[BpeTrainer]] precedent), so the logical plan carried into
  * iteration k+1 is a single LogicalRDD regardless of k — planning
  * cost stays O(1) per iteration instead of O(k), and a
  * production-depth run (20–50 iterations) cannot blow up the DAG.
  * Intermediate checkpoints are LAZY (each is consumed exactly once by
  * the next iteration, so the final eager checkpoint materializes the
  * chain in one job); only the last is eager, because the build-side
  * caches are released before returning.
  * Superseded iterations' checkpoint blocks are dropped by the
  * ContextCleaner as the loop variable's old reference is released;
  * the returned frame owns only the final iteration's blocks.
  */
object PageRank {

  /** Ranks after `iters` synchronous iterations with damping `d` over
    * the directed `edges` (`srcCol`, `dstCol`; parallel edges should be
    * pre-deduped by the caller if unwanted). Nodes with no out-edges
    * contribute no mass (standard dangling simplification — callers
    * with symmetric edge sets, like co-occurrence graphs, have none).
    * Returns (node, r DECIMAL(28,12)).
    */
  def ranks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
    val n = nodes.count()
    require(n > 0, "empty graph")
    val base = (1.0 - damping) / n
    var rank = nodes.select(col("node"),
      expr(s"CAST(round(1.0 / $n, 12) AS DECIMAL(28,12))").as("r"))
    try {
      for (i <- 1 to iters) {
        val contrib = e.join(deg, "src")
          .join(rank.withColumnRenamed("node", "src"), "src")
          .select(col("dst"),
            expr("CAST(round(CAST(r AS DOUBLE) / outdeg, 12) " +
              "AS DECIMAL(28,12))").as("cg"))
          .groupBy("dst").agg(sum("cg").as("s"))
        // Checkpoint every iteration (truncates the plan to a LogicalRDD
        // so iteration k+1 plans against O(1) lineage), but LAZILY for
        // all but the last (r16): each intermediate state is consumed
        // exactly once by the next iteration, so the final EAGER
        // checkpoint materializes the whole chain in ONE job — per-
        // iteration blocks are still stored and lineage still truncates
        // as each level is computed, but the iters-1 dedicated
        // materialization jobs are gone. The last iteration stays eager
        // because the build-side caches (e/deg/nodes) are released in
        // the finally below, before the caller's first action.
        rank = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            expr(s"CAST(round($base + $damping * " +
              "CAST(coalesce(s, 0) AS DOUBLE), 12) AS DECIMAL(28,12))")
              .as("r"))
          .localCheckpoint(i == iters)
      }
    } finally {
      // The final rank is materialized in its own checkpoint blocks,
      // so the build-side caches can be released before returning.
      deg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
    rank
  }

  /** PERSONALIZED PageRank: the teleport lands on the `seeds` node set
    * (uniformly) instead of all nodes — the "similar to THESE" ranking
    * behind related-item and local-community queries. Same exact
    * DECIMAL(28,12) re-quantized state, join-contribution-aggregate
    * shape, and per-iteration localCheckpoint as [[ranks]]; the only
    * deltas are the seed-indicator base term and the r0 mass placement.
    * `seeds` must be a subset of the graph's nodes (a seed with no
    * edges would silently lose its teleport mass; require()d instead).
    */
  def personalizedRanks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame, // one column: node id (castable to long)
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    try {
      val sd = seeds.select(seeds.columns.head)
        .select(col(seeds.columns.head).cast("long").as("node"))
        .distinct().persist()
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
      try {
        val nSeeds = sd.count()
        require(nSeeds > 0, "personalizedRanks needs at least one seed")
        require(sd.join(nodes, "node", "left_anti").isEmpty,
          "seed node(s) absent from the graph")
        // seed indicator joined once; base = (1-d)/|S| on seeds, 0 off
        val seeded = nodes.join(
          sd.withColumn("is_seed", lit(1)), Seq("node"), "left")
          .select(col("node"), coalesce(col("is_seed"), lit(0)).as("is_seed"))
          .localCheckpoint(true)
        val base = (1.0 - damping) / nSeeds
        var rank = seeded.select(col("node"),
          expr(s"CAST(round(is_seed * 1.0 / $nSeeds, 12) " +
            "AS DECIMAL(28,12))").as("r"))
        // EAGER per-iteration (r16: the lazy-intermediates variant was
        // tried and REVERTED here — measured 1.4× slower solo: eager
        // checkpoints carry accurate size stats and keep the seeded⋈
        // contrib joins broadcast; [[ranks]] kept the lazy form because
        // it measured faster there)
        for (i <- 1 to iters) {
          val contrib = e.join(deg, "src")
            .join(rank.withColumnRenamed("node", "src"), "src")
            .select(col("dst"),
              expr("CAST(round(CAST(r AS DOUBLE) / outdeg, 12) " +
                "AS DECIMAL(28,12))").as("cg"))
            .groupBy("dst").agg(sum("cg").as("s"))
          rank = seeded
            .join(contrib, seeded("node") === contrib("dst"), "left")
            .select(col("node"),
              expr(s"CAST(round(is_seed * $base + $damping * " +
                "CAST(coalesce(s, 0) AS DOUBLE), 12) AS DECIMAL(28,12))")
                .as("r"))
            .localCheckpoint(true)
        }
        rank
      } finally {
        deg.unpersist(blocking = false)
        sd.unpersist(blocking = false)
      }
    } finally {
      nodes.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }
}
