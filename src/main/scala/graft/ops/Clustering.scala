package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-means over an `ARRAY<FLOAT>` embedding column — the
  * clustering step training-data pipelines run between dedup and
  * sampling (topic balancing, hard-negative mining, corpus maps).
  *
  * Full Lloyd loop on top of the IVF build blocks ([[Similarity]]):
  *   - init: deterministic hyperplane-bucket assignment (splitmix64
  *     plane chain — no RNG, no seed parameter to get wrong);
  *   - each iteration: centroid means via the fixed-point Centroid
  *     aggregator (map-side partial sums; only k centroid rows reach the
  *     driver), then one narrow re-assignment pass with the k centroids
  *     in the UDF closure (broadcast-by-closure, no shuffle of vectors);
  *   - stop after `maxIters` or when no centroid moved more than `tol`
  *     (squared-L2, computed driver-side over k rows).
  *
  * DETERMINISTIC by the same contract that makes the IVF family
  * oracle-checkable: fixed-point accumulation, list-id-sorted iteration,
  * first-seen argmax — same corpus → bit-identical centroids and
  * assignments on any partitioning.
  *
  * Scale: per iteration one narrow scan + one keyed agg whose shuffle
  * volume is O(partitions × k × dim) — corpus vectors never shuffle,
  * and the scanned (vec_id, v) projection is persisted for the loop's
  * lifetime (MEMORY_AND_DISK, unpersisted on return) so the SOURCE
  * table is read once, not once per iteration.
  * An empty cluster simply drops out of the centroid set (standard
  * Lloyd degeneracy; k is an upper bound).
  */
object Clustering {

  /** Run k-means; returns (assignments `(vec_id, v, list_id)`, final
    * centroids sorted by cluster id).
    */
  def kMeans(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxIters: Int = 10,
      tol: Double = 0.0,
      dim: Int = 768
  ): (DataFrame, Array[(Int, Array[Float])]) = {
    require(k >= 1 && maxIters >= 1, "k and maxIters must be >= 1")
    // The Lloyd loop scans the input once per iteration (centroid agg)
    // plus once for the caller's final materialization — persist the
    // 2-column projection for the loop's lifetime so the source table is
    // READ ONCE, not iters+1 times (at 100 TB each rescan is the whole
    // corpus; the projection is only id + vector, disk-spillable).
    // Unpersisted before return: the loop's working set must not occupy
    // executor storage for the caller's session lifetime.
    val data = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planes = Dedup.hyperplanes(
        math.max(1, (math.log(k.toDouble) / math.log(2)).ceil.toInt), dim)
      val bucketU = udf((v: Array[Float]) =>
        Dedup.hyperplaneBucket(v, planes) % k)
      var assigned = data.withColumn("list_id", bucketU(col("v")))
      var centroids = Array.empty[(Int, Array[Float])]
      var it = 0
      var converged = false
      while (it < maxIters && !converged) {
        val next = Similarity.refineCentroids(assigned, dim)
        converged = it > 0 && maxMove2(centroids, next) <= tol * tol
        centroids = next
        assigned = Similarity.assignToCentroids(data, centroids, dim)
        it += 1
      }
      (assigned, centroids)
    } finally data.unpersist(blocking = false)
  }

  /** Max squared-L2 movement between two centroid generations; a cluster
    * present in only one generation counts as infinite movement.
    */
  private def maxMove2(
      prev: Array[(Int, Array[Float])],
      next: Array[(Int, Array[Float])]): Double = {
    val pm = prev.toMap
    if (prev.length != next.length) return Double.PositiveInfinity
    next.foldLeft(0.0) { case (acc, (id, c)) =>
      pm.get(id) match {
        case None => Double.PositiveInfinity
        case Some(p) =>
          var d = 0.0
          var i = 0
          val n = math.min(p.length, c.length)
          while (i < n) {
            val x = p(i).toDouble - c(i); d += x * x; i += 1
          }
          math.max(acc, d)
      }
    }
  }
}
