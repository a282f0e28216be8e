package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PRODUCT QUANTIZATION (PQ) — the vector-compression stage of a
  * billion-scale ANN index (IVF-PQ): split each d-dim vector into `m`
  * subvectors, k-means each subspace independently, and store per
  * vector only the m codebook indices (here 8×4 bits ≈ 64× smaller
  * than float32). Public design: Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011.
  *
  * DETERMINISM: the subspace Lloyd loops reuse the exact contract of
  * the k-means and IVF builds — splitmix-hyperplane init (no RNG),
  * fixed-point 2^24 centroid accumulation (associative), id-ordered
  * centroids with first-seen L2 argmin tie-break, and the L2 distance
  * evaluated as the fixed expression vv − 2·vc + cc with each fold in
  * dim order. Same corpus → bit-identical codebooks, codes, and
  * (9-dp-quantized) reconstruction errors on any partitioning.
  *
  * Scale: training scans the corpus once per (subspace × iteration)
  * against the persisted 2-column projection; only m×k×subDim floats
  * ever reach the driver. Encoding is a zero-shuffle per-partition
  * loop with the broadcast codebooks.
  */
object Pq {

  /** `codebooks(s)` = the (code, centroid) list of subspace `s`, sorted
    * by code (empty Lloyd clusters drop out; codes are a subset of
    * 0 until k).
    */
  final case class Model(
      dim: Int, m: Int, k: Int,
      codebooks: Array[Array[(Int, Array[Float])]]) {
    def subDim: Int = dim / m
  }

  /** L2 assignment against id-sorted centroids, first-seen argmin.
    * Distance is vv − 2·vc + cc with each accumulator folded in dim
    * order — the exact expression the SQL replay evaluates.
    */
  private def assignL2(
      data: DataFrame, centroids: Array[(Int, Array[Float])]): DataFrame = {
    val cs = centroids
    val assignU = udf { v: Array[Float] =>
      bestCode(v, cs)
    }
    data.withColumn("list_id", assignU(col("v")))
  }

  private def dist2(v: Array[Float], c: Array[Float]): Double = {
    val n = math.min(v.length, c.length)
    var vv = 0.0
    var i = 0
    while (i < n) { vv += v(i).toDouble * v(i); i += 1 }
    var vc = 0.0
    i = 0
    while (i < n) { vc += v(i).toDouble * c(i); i += 1 }
    var cc = 0.0
    i = 0
    while (i < n) { cc += c(i).toDouble * c(i); i += 1 }
    vv - 2.0 * vc + cc
  }

  private def bestCode(
      v: Array[Float], cs: Array[(Int, Array[Float])]): Int = {
    var best = cs.head._1
    var bestD = Double.MaxValue
    cs.foreach { case (id, c) =>
      val d = dist2(v, c)
      if (d < bestD) { bestD = d; best = id }
    }
    best
  }

  /** Train the m per-subspace codebooks (k centroids each, `iters`
    * Lloyd refinements from the hyperplane-bucket init).
    */
  def fit(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): Model = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(k >= 1 && iters >= 1) // k=1 = the mean-codebook distortion bound
    val subDim = dim / m
    val numPlanes =
      math.max(1, (math.log(k.toDouble) / math.log(2)).ceil.toInt)
    val data = df.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("full"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planes = Dedup.hyperplanes(numPlanes, subDim)
      val books = (0 until m).map { s =>
        val sub = data.select(col("vec_id"),
          slice(col("full"), s * subDim + 1, subDim).as("v"))
        val bucketU = udf((v: Array[Float]) =>
          Dedup.hyperplaneBucket(v, planes) % k)
        var assigned = sub.withColumn("list_id", bucketU(col("v")))
        var centroids = Array.empty[(Int, Array[Float])]
        for (_ <- 1 to iters) {
          centroids = Similarity.refineCentroids(assigned, subDim)
          assigned = assignL2(sub, centroids)
        }
        centroids
      }.toArray
      Model(dim, m, k, books)
    } finally data.unpersist(blocking = false)
  }

  /** Encode every vector: per-subspace argmin code, plus the total
    * reconstruction error Σ_s dist²_s with each subspace term rounded
    * to 9 dp before the (fixed-order) sum — the engine-portable
    * quantization of the distortion metric.
    */
  def encode(
      df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mdl = bc.value
        val sd = mdl.subDim
        it.map { case (id, v) =>
          val codes = new Array[Int](mdl.m)
          var err = BigDecimal(0)
          var s = 0
          while (s < mdl.m) {
            val sub = java.util.Arrays.copyOfRange(v, s * sd, (s + 1) * sd)
            val cs = mdl.codebooks(s)
            val code = bestCode(sub, cs)
            codes(s) = code
            val d = dist2(sub,
              cs(java.util.Arrays.binarySearch(cs.map(_._1), code))._2)
            err = err + BigDecimal(d)
              .setScale(9, BigDecimal.RoundingMode.HALF_UP)
            s += 1
          }
          (id, codes.mkString("-"), err.toDouble)
        }
      }
      .toDF(idCol, "codes", "err2")
  }

  /** ASYMMETRIC DISTANCE COMPUTATION search over an encoded table: the
    * query is expanded once (driver-side) into m per-subspace lookup
    * tables of query→centroid distances; each candidate's approximate
    * distance is then a sum of m table entries addressed by its stored
    * codes — the scan touches ONLY the code column (m small ints per
    * vector, ~64× narrower than the float vectors), which is the entire
    * point of PQ at billion scale. Pure Column expression (array
    * literals + element_at), whole-stage-codegen'd, no UDF. LUT entries
    * are 9-dp quantized and decimal-summed, so the ranking is
    * engine-portable (the SQL twin replays it from the same replayed
    * codebooks).
    */
  def adcTopK(
      encoded: DataFrame, idCol: String, model: Model,
      query: Array[Float], k: Int): DataFrame = {
    val sd = model.subDim
    val lutCols = (0 until model.m).map { s =>
      val qsub = java.util.Arrays.copyOfRange(query, s * sd, (s + 1) * sd)
      val lut = Array.fill(model.k)(0.0)
      model.codebooks(s).foreach { case (code, c) =>
        lut(code) = BigDecimal(dist2(qsub, c))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      element_at(array(lut.toIndexedSeq.map(lit(_)): _*),
        element_at(split(col("codes"), "-"), s + 1).cast("int") + 1)
        .cast("decimal(28,9)")
    }
    encoded
      .withColumn("adc", lutCols.reduce(_ + _))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ: the composed billion-scale ANN layout. An IVF coarse
    * layer (hyperplane init → one fixed-point centroid refinement →
    * cosine assignment — the exact [[Similarity]] IVF contract) prunes
    * candidates to the query's `nProbe` lists; the ADC fine ranking
    * then scores ONLY the survivors' codes. At
    * scale both layers are precomputed index artifacts (list-partitioned
    * code tables); the probe reads nProbe partitions of 8-byte codes —
    * neither the vectors nor the other lists.
    */
  def ivfAdcTopK(
      df: DataFrame, idCol: String, vecCol: String, model: Model,
      numPlanes: Int, nProbe: Int, query: Array[Float], k: Int): DataFrame = {
    val dim = model.dim
    val data = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    val planes = Dedup.hyperplanes(numPlanes, dim)
    val bucketU = udf((v: Array[Float]) =>
      Dedup.hyperplaneBucket(v, planes))
    val centroids = Similarity.refineCentroids(
      data.withColumn("list_id", bucketU(col("v"))), dim)
    val assigned = Similarity.assignToCentroids(data, centroids, dim)
    val qLists = centroids
      .map { case (id, c) => (id, graft.embed.Embedder.cosine(query, c)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(nProbe).map(_._1)
    val cand = assigned
      .filter(col("list_id").isin(qLists.map(Int.box): _*))
      .select(col("vec_id"), col("v"))
    adcTopK(encode(cand, "vec_id", "v", model), "vec_id", model, query, k)
  }
}
