package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous LABEL PROPAGATION community detection with a fully
  * deterministic update rule: a node's next label is the most frequent
  * label among its neighbors, ties broken by the SMALLEST label — so
  * every iteration is a pure function of the graph and the result is
  * engine-portable (the DuckDB twin replays the same iterations as
  * unrolled CTEs). Classic async LPA is order-dependent by design;
  * this is the synchronous determinized variant.
  *
  * Scale shape per iteration: one keyed join (edge × label) + one
  * (node, label) count + a per-node window over that node's distinct
  * neighbor labels (bounded by degree). State is re-anchored with
  * `localCheckpoint` every iteration (the [[PageRank]]/[[Hits]]
  * lineage contract) so planning cost stays O(1) in depth; the edge
  * set is persisted for the loop and released before return.
  */
object LabelPropagation {

  /** (node, label) after `iters` synchronous iterations over the
    * UNDIRECTED graph (edges are symmetrized and self-loops dropped;
    * initial label = node id).
    */
  def labels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist()
    require(!e.isEmpty, "LPA: empty graph (no non-loop edges)")
    // Symmetrized ⇒ the src column alone is the full node set, and
    // every node has ≥ 1 neighbor, so the per-iteration argmax always
    // emits every node: no node-preserving outer join needed.
    // EAGER per-round (the lazy variant was tried and REVERTED — a
    // modularity query measured 1.3× slower; eager checkpoints keep size
    // stats for broadcast join planning)
    var lbl = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    try {
      for (i <- 1 to iters) {
        val w = Window.partitionBy("node")
          .orderBy(col("c").desc, col("label"))
        lbl = e.join(lbl.withColumnRenamed("node", "dst"), "dst")
          .select(col("src").as("node"), col("label"))
          .groupBy("node", "label").agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("node"), col("label"))
          .localCheckpoint(true)
      }
    } finally e.unpersist(blocking = false)
    lbl
  }
}
