package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (`ARRAY<FLOAT>`).
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k with the native
  *     `graft_cosine` expression (graft.functions.CosineSimilarity): the
  *     query is one literal, so the kernel runs its constant-query loop,
  *     and the 4dp rank key is projected once per row below the top-k.
  *     Scan-shaped: at 100 TB this is one narrow pass + a global top-k
  *     (Spark's TakeOrderedAndProject — no full sort, no wide shuffle).
  *     The baseline every ANN variant is measured against.
  *   - [[lshTopK]] — random-hyperplane LSH bucket pruning: probe only
  *     buckets within `probeHamming` bits of the query's bucket. Cuts the
  *     scanned fraction to ~sum(C(planes,i))/2^planes (e.g. 16 planes,
  *     probe<=2: ~0.2%) at some recall cost; recall is measured in
  *     OpsSpec against the brute-force truth.
  */
object Similarity {

  /** Cosine similarity of an ARRAY<FLOAT> column against a constant query
    * vector, as a codegen-friendly Column expression (no UDF): dot product
    * via zip_with + aggregate; norms likewise. Kept as the
    * built-ins-only formulation; the hot paths below use the fused native
    * expression (graft.functions.CosineSimilarity), which computes the
    * same value without the per-row intermediate array.
    */
  def cosineCol(vec: Column, query: Array[Float]): Column = {
    val q = array(query.toSeq.map(v => lit(v.toDouble)): _*)
    val dot = aggregate(
      zip_with(vec, q, (a, b) => a * b), lit(0.0d), (acc, x) => acc + x)
    val nv = sqrt(aggregate(
      zip_with(vec, vec, (a, b) => a * b), lit(0.0d), (acc, x) => acc + x))
    val nq = math.sqrt(query.map(v => v.toDouble * v).sum)
    when(nv === 0.0 || lit(nq) === 0.0, 0.0)
      .otherwise(dot / (nv * lit(nq)))
  }

  /** Native-expression cosine against a literal query vector. The query
    * enters the plan as ONE `ARRAY<FLOAT>` literal (not an `array(lit…)`
    * node per element, which every analyzer and optimizer pass would
    * walk), so the kernel takes its constant-query loop.
    */
  private def cosineNative(df: DataFrame, vec: Column, query: Array[Float]): Column = {
    graft.functions.CosineSimilarity.register(df.sparkSession)
    graft.functions.CosineSimilarity.cosine(vec, lit(query))
  }

  /** Top `k` rows of `df` by the 4dp-ROUNDED `score` descending, then
    * `id`. Raw-double ordering can differ in the last ulp between
    * accumulation orders (and between a kernel and an oracle), flipping
    * top-k membership at the boundary; the rounded key with the id
    * tiebreak does not. The key is projected once per row below the
    * top-k (the projection references `score` twice, so CollapseProject
    * keeps it apart and the score is not re-evaluated), not evaluated
    * inside TakeOrderedAndProject's comparator, and is dropped from the
    * output.
    */
  private def topKByRoundedScore(df: DataFrame, score: String, id: String, k: Int): DataFrame =
    df.withColumn("rank_key", round(col(score), 4))
      .orderBy(col("rank_key").desc, col(id))
      .limit(k)
      .drop("rank_key")

  /** Exact cosine top-k: narrow scan + TakeOrderedAndProject, ranked on
    * the rounded score with the id as tiebreak ([[topKByRoundedScore]]);
    * the output `cosine` is the raw score.
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int
  ): DataFrame =
    topKByRoundedScore(
      df.select(
        col(idCol).cast("long").as("vec_id"),
        cosineNative(df, col(vecCol), query).as("cosine")),
      "cosine", "vec_id", k)

  /** Matryoshka (coarse-to-fine) two-stage top-k: rank every vector by
    * cosine on its FIRST `coarseDim` components only (cosine normalizes
    * by the slice norms, so the truncated prefix is implicitly
    * renormalized — the matryoshka-representation-learning property),
    * keep the best `candidates`, then rerank just those at full
    * dimension. The adaptive-retrieval pattern: at 100 TB the coarse
    * prefix is stored as its own short column (or its own table), so
    * stage 1 scans coarseDim/dim of the vector bytes and stage 2 fetches
    * full vectors for `candidates` rows only — here both stages read the
    * one fixture column, but the plan shape (narrow scan +
    * TakeOrderedAndProject, then an O(candidates) rerank) is the same.
    *
    * Both stages rank on the 4dp-ROUNDED score with the id tiebreak
    * (same determinism contract as [[bruteForceTopK]]), so the candidate
    * CUT is engine-reproducible too — the oracle replays both stages.
    */
  def matryoshkaTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      coarseDim: Int,
      candidates: Int
  ): DataFrame = {
    require(coarseDim >= 1 && coarseDim < query.length,
      "coarseDim must be in [1, dim)")
    require(candidates >= k, "candidates must be >= k")
    val coarse = topKByRoundedScore(
      df.select(
        col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v"),
        cosineNative(df, slice(col(vecCol), 1, coarseDim),
          query.take(coarseDim)).as("cosine_coarse")),
      "cosine_coarse", "vec_id", candidates)
    // the rerank sees only `candidates` rows, so its key stays in the
    // ordering: a rank-key projection here would stack a second Project
    // on the rerank one once both are pushed below stage 1's limit, and
    // stage 1 would no longer plan as a TakeOrderedAndProject
    coarse
      .select(
        col("vec_id"),
        round(col("cosine_coarse"), 4).as("cosine_coarse"),
        cosineNative(df, col("v"), query).as("cosine"))
      .orderBy(round(col("cosine"), 4).desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cosine_coarse"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** LSH-pruned approximate top-k. Deterministic hyperplanes shared with
    * Dedup.embeddingNearDup. At scale, persist the bucketed table
    * (partitioned by bucket) and this becomes a partition-pruned scan.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      numPlanes: Int = 16,
      probeHamming: Int = 2,
      dim: Int = 768
  ): DataFrame = {
    val planes = Dedup.hyperplanes(numPlanes, dim)
    val qBucket = Dedup.hyperplaneBucket(query, planes)
    val bucketU = udf((v: Array[Float]) => Dedup.hyperplaneBucket(v, planes))
    val pruned = df.select(
        col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v"))
      .withColumn("bucket", bucketU(col("v")))
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
      .select(col("vec_id"), cosineNative(df, col("v"), query).as("cosine"))
    topKByRoundedScore(pruned, "cosine", "vec_id", k)
  }

  /** Persist the corpus in LSH-bucketed LAYOUT: parquet partitioned by the
    * hyperplane bucket. One narrow pass + write. This is the 100 TB path
    * [[lshTopK]]'s doc promises: after this, a probe reads ONLY the
    * partition directories within `probeHamming` bits of the query bucket
    * instead of filtering a full scan.
    */
  private def lshIndexRows(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      dim: Int
  ): DataFrame = {
    val planes = Dedup.hyperplanes(numPlanes, dim)
    val bucketU = udf((v: Array[Float]) => Dedup.hyperplaneBucket(v, planes))
    df.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .withColumn("bucket", bucketU(col("v")))
      // co-locate each bucket in one task before the partitioned write:
      // without this every task writes a file into every bucket dir
      // (tasks × buckets tiny files — the classic partitionBy fan-out)
      .repartition(col("bucket"))
  }

  /** Build parameters a persisted LSH layout was written with, recorded as
    * a `_params.json` sidecar: appending or probing with a different
    * numPlanes/dim computes different buckets and silently misses results
    * — mismatches must fail loudly instead (same contract as the MinHash
    * index sidecar in [[Dedup]]).
    */
  private def lshParamsJson(numPlanes: Int, dim: Int): String =
    s"""{"numPlanes":$numPlanes,"dim":$dim}"""

  private def requireLshParams(
      spark: org.apache.spark.sql.SparkSession,
      path: String, numPlanes: Int, dim: Int): Unit =
    graft.util.Sidecar.requireMatch(
      spark.sparkContext.hadoopConfiguration, path, "_params.json",
      lshParamsJson(numPlanes, dim), "lsh index")

  def writeLshIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numPlanes: Int = 16,
      dim: Int = 768
  ): Unit = {
    lshIndexRows(df, idCol, vecCol, numPlanes, dim)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    graft.util.Sidecar.write(
      df.sparkSession.sparkContext.hadoopConfiguration, path,
      "_params.json", lshParamsJson(numPlanes, dim))
  }

  /** Append an ingest batch into an existing [[writeLshIndex]] layout:
    * the deterministic hyperplanes assign the SAME buckets, so new files
    * land inside the existing `bucket=` directories. O(batch) per ingest
    * — nothing in the index is read or rewritten, and a later probe's
    * partition pruning covers old and new files alike. (Compact a bucket
    * dir with ops/Compaction when small appended files accumulate.)
    */
  def appendToLshIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numPlanes: Int = 16,
      dim: Int = 768
  ): Unit = {
    requireLshParams(df.sparkSession, path, numPlanes, dim)
    lshIndexRows(df, idCol, vecCol, numPlanes, dim)
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** Probe a [[writeLshIndex]] layout. The hamming predicate references
    * only the `bucket` partition column, so Catalyst turns it into a
    * PartitionFilter: the scan lists and reads just the ~sum(C(planes,i))
    * matching directories (e.g. 16 planes, probe<=2: 137 of 65536 buckets)
    * — asserted mechanically in SimilaritySpec.
    */
  def lshTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      query: Array[Float],
      k: Int,
      numPlanes: Int = 16,
      probeHamming: Int = 2
  ): DataFrame = {
    requireLshParams(spark, indexPath, numPlanes, query.length)
    val planes = Dedup.hyperplanes(numPlanes, query.length)
    val qBucket = Dedup.hyperplaneBucket(query, planes)
    graft.functions.CosineSimilarity.register(spark)
    spark.read.parquet(indexPath)
      .filter(
        bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
      .select(col("vec_id"),
        graft.functions.CosineSimilarity.cosine(
          col("v"), array(query.toSeq.map(lit(_)): _*)).as("cosine"))
      .orderBy(round(col("cosine"), 4).desc, col("vec_id"))
      .limit(k)
  }

  /** MULTI-PROBE probe of a [[writeLshIndex]] layout (Lv et al., VLDB
    * 2007): instead of the whole hamming ball (C(planes,≤r) buckets,
    * most of them unlikely), probe the `nProbes` buckets MOST LIKELY
    * to hold near neighbors — the home bucket plus perturbations that
    * flip the planes with the SMALLEST query margin |q·plane| first
    * (a near neighbor that lands across a plane almost certainly
    * crossed one the query was close to). This is the standard
    * recall/cost knob: at equal partitions read it strictly dominates
    * ball probing because every probed bucket is chosen by evidence,
    * not radius; SimilaritySpec measures recall ≥ home-bucket-only at
    * nProbes partitions read. The probe set is computed DRIVER-SIDE
    * from the query alone (≤2-bit perturbations, margin-sum ordered,
    * deterministic mask tie-break) and pushed as an IN over the
    * partition column, so the scan stays partition-pruned to exactly
    * `nProbes` directories regardless of corpus size.
    */
  def lshTopKMultiProbe(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      query: Array[Float],
      k: Int,
      numPlanes: Int = 16,
      nProbes: Int = 8
  ): DataFrame = {
    requireLshParams(spark, indexPath, numPlanes, query.length)
    val planes = Dedup.hyperplanes(numPlanes, query.length)
    val qBucket = Dedup.hyperplaneBucket(query, planes)
    // |q·plane_p| in the exact fold [[Dedup.hyperplaneBucket]] uses
    // (left-to-right double sum) — the DuckDB twin replays it verbatim
    val margins = planes.map { pl =>
      var dot = 0.0
      val n = math.min(query.length, pl.length)
      var i = 0
      while (i < n) { dot += query(i).toDouble * pl(i); i += 1 }
      math.abs(dot)
    }
    val cands = Seq((0, 0.0)) ++
      (0 until numPlanes).map(p => (1 << p, margins(p))) ++
      (for {
        a <- 0 until numPlanes; b <- (a + 1) until numPlanes
      } yield ((1 << a) | (1 << b), margins(a) + margins(b)))
    val probes = cands.sortBy { case (mask, score) => (score, mask) }
      .take(nProbes).map { case (mask, _) => qBucket ^ mask }
    graft.functions.CosineSimilarity.register(spark)
    spark.read.parquet(indexPath)
      .filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"),
        graft.functions.CosineSimilarity.cosine(
          col("v"), array(query.toSeq.map(lit(_)): _*)).as("cosine"))
      .orderBy(round(col("cosine"), 4).desc, col("vec_id"))
      .limit(k)
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every vector to its nearest of `nLists` centroids (one narrow pass,
    * centroids broadcast); a query probes only the `nProbe` nearest
    * lists. At scale the assignment is precomputed and the corpus is
    * WRITTEN PARTITIONED BY list id, making a probe a partition-pruned
    * scan of nProbe/nLists of the data.
    *
    * Centroids here come from one k-means-style refinement over a
    * deterministic hash-seeded init (cheap, reproducible, no MLlib
    * dependency); quality is measured against brute force in OpsSpec.
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      dim: Int = 768
  ): DataFrame = {
    graft.functions.CosineSimilarity.register(df.sparkSession)
    val data = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    // deterministic init: hyperplane-bucket centroids (means of coarse
    // buckets), refined by one Lloyd step
    val planes = Dedup.hyperplanes(
      math.max(1, (math.log(nLists.toDouble) / math.log(2)).ceil.toInt), dim)
    val bucketU = udf((v: Array[Float]) =>
      Dedup.hyperplaneBucket(v, planes) % nLists)
    val init = data.withColumn("list_id", bucketU(col("v")))
    val centroids = refineCentroids(init, dim)
    val assigned = assignToCentroids(data, centroids, dim)
    val qList = nearestLists(query, centroids, nProbe)
    assigned
      .filter(col("list_id").isin(qList: _*))
      .select(col("vec_id"),
        graft.functions.CosineSimilarity.cosine(
          col("v"), array(query.toSeq.map(lit(_)): _*)).as("cosine"))
      .orderBy(round(col("cosine"), 4).desc, col("vec_id"))
      .limit(k)
  }

  /** Persist the corpus in IVF layout: parquet partitioned by list id
    * (the "WRITTEN PARTITIONED BY list id" path [[ivfTopK]]'s doc
    * promises), plus the centroids themselves at `path/_centroids.parquet`
    * — they are part of the index, not the caller's to keep: an append or
    * probe using centroids from a DIFFERENT build would silently
    * mis-assign/mis-probe lists (the dim check can't catch same-width
    * different-centroid drift). Returns them as a convenience. Same
    * one-file-per-list repartition trick as [[writeLshIndex]].
    */
  def writeIvfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nLists: Int = 16,
      dim: Int = 768
  ): Array[(Int, Array[Float])] = {
    val data = df.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    val planes = Dedup.hyperplanes(
      math.max(1, (math.log(nLists.toDouble) / math.log(2)).ceil.toInt), dim)
    val bucketU = udf((v: Array[Float]) =>
      Dedup.hyperplaneBucket(v, planes) % nLists)
    val init = data.withColumn("list_id", bucketU(col("v")))
    val centroids = refineCentroids(init, dim)
    assignToCentroids(data, centroids, dim)
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    val spark = df.sparkSession
    import spark.implicits._
    centroids.toSeq.toDF("list_id", "c")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_centroids.parquet")
    centroidCache.put(path, centroids)
    centroids
  }

  /** Read the centroids persisted by [[writeIvfIndex]] — the only valid
    * centroid source for probing or appending to that layout.
    */
  def readIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Float])] =
    spark.read.parquet(s"$path/_centroids.parquet")
      .collect()
      .map { r =>
        (r.getAs[Int]("list_id"),
          r.getAs[scala.collection.Seq[Float]]("c").toArray)
      }
      .sortBy(_._1)

  /** Per-JVM centroid cache so a hot probe path ([[ivfTopKIndexed]]) is
    * not a driver-side Spark job per query. Coherent by construction:
    * [[writeIvfIndex]] replaces the entry for its path, and an index is
    * immutable between builds ([[appendToIvfIndex]] never moves
    * centroids). First probe of a path in a fresh JVM reads through.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Float])]]()

  private def cachedIvfCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Float])] =
    centroidCache.computeIfAbsent(path, p => readIvfCentroids(spark, p))

  /** Append an ingest batch into an existing [[writeIvfIndex]] layout:
    * new vectors are assigned to the index's OWN persisted (frozen)
    * centroids — the standard IVF maintenance contract (re-train centroids
    * offline when drift accumulates, then rebuild) — and appended into
    * their list directories in O(batch); nothing is rewritten, and a
    * probe's partition pruning covers old and new files alike. Reading the
    * centroids from the index (rather than trusting a caller-supplied
    * array) makes a cross-build mismatch impossible by construction.
    */
  def appendToIvfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int = 768
  ): Unit = {
    val centroids = readIvfCentroids(df.sparkSession, path)
    // dim guards against appending a different-width batch: the cosine
    // kernel would silently truncate to the common prefix and scatter
    // vectors into wrong lists with no diagnostic
    require(centroids.nonEmpty && centroids.forall(_._2.length == dim),
      s"index centroid width != dim=$dim — appending a different-width " +
        "batch would silently mis-assign lists")
    assignToCentroids(
      df.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v")),
      centroids, dim)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(path)
  }

  /** Probe a [[writeIvfIndex]] layout: ranks the index's persisted
    * centroids, then scans ONLY the nProbe matching list directories (the
    * list predicate binds to the partition column → PartitionFilters).
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      query: Array[Float],
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val centroids = cachedIvfCentroids(spark, indexPath)
    val qLists = nearestLists(query, centroids, nProbe)
    spark.read.parquet(indexPath)
      .filter(col("list_id").isin(qLists: _*))
      .select(col("vec_id"),
        graft.functions.CosineSimilarity.cosine(
          col("v"), array(query.toSeq.map(lit(_)): _*)).as("cosine"))
      .orderBy(round(col("cosine"), 4).desc, col("vec_id"))
      .limit(k)
  }

  /** Mean vector per list, computed DISTRIBUTED via the Centroid
    * aggregator (partial element-wise FIXED-POINT sums map-side; shuffle
    * volume is O(partitions × nLists × dim)). Only the nLists finished
    * centroid vectors ever reach the driver — never the corpus. The
    * fixed-point accumulator plus the list-id sort make the whole build
    * DETERMINISTIC: same corpus → bit-identical centroids and list
    * assignments on any partitioning (reproducible index builds).
    */
  private[ops] def refineCentroids(
      assigned: DataFrame, dim: Int): Array[(Int, Array[Float])] = {
    import org.apache.spark.sql.Row
    val centroidU = udaf(
      new graft.functions.VectorAggregates.Centroid(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    assigned.groupBy("list_id")
      .agg(centroidU(col("v")).as("c"))
      .collect()
      .map { case Row(list: Int, c: scala.collection.Seq[_]) =>
        (list, c.asInstanceOf[scala.collection.Seq[Float]].toArray)
      }
      // collect() order is partition order; assignToCentroids breaks
      // exact-cosine ties by FIRST-seen, so fix the iteration order
      .sortBy(_._1)
  }

  private[ops] def assignToCentroids(
      data: DataFrame, centroids: Array[(Int, Array[Float])], dim: Int): DataFrame = {
    val cs = centroids // serialized into the UDF closure (tiny)
    val assignU = udf { v: Array[Float] =>
      var best = cs.head._1; var bestScore = -2.0
      cs.foreach { case (id, c) =>
        val s = graft.embed.Embedder.cosine(v, c)
        if (s > bestScore) { bestScore = s; best = id }
      }
      best
    }
    data.withColumn("list_id", assignU(col("v")))
  }

  private def nearestLists(
      query: Array[Float], centroids: Array[(Int, Array[Float])],
      nProbe: Int): Seq[Int] =
    centroids
      .map { case (id, c) => (id, graft.embed.Embedder.cosine(query, c)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(nProbe).map(_._1).toSeq

  /** All-pairs exact top-k join for a (small, broadcastable) query set:
    * each query row gets its k nearest from the corpus. Broadcast the
    * queries, never the corpus — and never a whole query's scored corpus
    * onto one reducer: a single window partitioned by query_id would
    * funnel N corpus rows per query through one task. Phase 1 takes a
    * LOCAL top-k per (query, input partition) — WindowGroupLimit keeps
    * per-task state at k rows, and the composite key spreads the shuffle
    * over partitions × queries reducers; phase 2 merges the surviving
    * O(partitions × k) rows per query.
    */
  def topKJoin(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    graft.functions.CosineSimilarity.register(corpus.sparkSession)
    val joined = corpus
      .select(col(corpusId).cast("long").as("corpus_id"),
        col(corpusVec).as("cv"))
      .crossJoin(broadcast(queries.select(
        col(queryId).cast("long").as("query_id"), col(queryVec).as("qv"))))
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosine(col("cv"), col("qv")))
      .withColumn("pid", spark_partition_id())
    // rank on the ROUNDED cosine + id like every other ranking surface
    // (lshTopK, ivfTopK): last-ulp FP differences across
    // engines/partitionings must never flip which rows make the top-k
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "pid")
      .orderBy(round(col("cosine"), 4).desc, col("corpus_id"))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("cosine"), 4).desc, col("corpus_id"))
    joined
      .withColumn("lr", row_number().over(wLocal))
      .filter(col("lr") <= k)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  // ------------------------------------------------------------------
  // Source-bound index maintenance (index × table-format integration,
  // r15 VERDICT ask #6): a persisted LSH/IVF layout built from a
  // TxnTable records WHICH committed version it reflects; probes can
  // then detect that a later deleteWhere/COW rewrite staled the index
  // and refuse or refresh — instead of silently returning vectors the
  // table no longer holds.
  // ------------------------------------------------------------------

  /** `_source.json` payload: the TxnTable root, the committed version
    * the index reflects, and the source id/vector column names (the
    * refresh path needs them to map change rows into index rows).
    */
  final case class IndexSource(
      root: String, version: Long, idCol: String, vecCol: String)

  /** Raised by the checked probes when the index lags its source table
    * and the caller asked to refuse rather than refresh.
    */
  final class StaleIndexException(msg: String)
    extends IllegalStateException(msg)

  private implicit val srcFormats: org.json4s.Formats =
    org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)

  private[ops] val SourceSidecar = "_source.json"

  private[ops] def writeIndexSource(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      src: IndexSource): Unit =
    graft.util.Sidecar.write(
      spark.sparkContext.hadoopConfiguration, indexPath, SourceSidecar,
      org.json4s.jackson.Serialization.write(src))

  /** The source binding of a persisted index, if it was built through
    * one of the `...FromTable` builders. None = unbound legacy layout
    * (staleness is the caller's problem, as before).
    */
  def readIndexSource(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[IndexSource] =
    graft.util.Sidecar.read(
      spark.sparkContext.hadoopConfiguration, indexPath, SourceSidecar)
      .map(org.json4s.jackson.Serialization.read[IndexSource](_))

  /** (recorded binding, source's current version) iff the index lags
    * (or leads — RESTORE moves tables backwards) its source table.
    */
  def indexStaleness(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[(IndexSource, Long)] =
    readIndexSource(spark, indexPath).flatMap { src =>
      val cur = graft.table.TxnTable.latestVersion(spark, src.root)
        .getOrElse(throw new IllegalStateException(
          s"index at $indexPath is bound to ${src.root} which no longer " +
            "holds a table"))
      if (cur == src.version) None else Some((src, cur))
    }

  /** Build an LSH layout FROM a TxnTable snapshot and bind it to the
    * committed version it reflects ([[IndexSource]]).
    */
  def writeLshIndexFromTable(
      spark: org.apache.spark.sql.SparkSession,
      tableRoot: String,
      idCol: String,
      vecCol: String,
      indexPath: String,
      numPlanes: Int = 16,
      dim: Int = 768): Unit = {
    val v = graft.table.TxnTable.latestVersion(spark, tableRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"no table at $tableRoot — create() first"))
    writeLshIndex(
      graft.table.TxnTable.snapshotAt(spark, tableRoot, v),
      idCol, vecCol, indexPath, numPlanes, dim)
    writeIndexSource(spark, indexPath,
      IndexSource(tableRoot, v, idCol, vecCol))
  }

  /** IVF sibling of [[writeLshIndexFromTable]]. */
  def writeIvfIndexFromTable(
      spark: org.apache.spark.sql.SparkSession,
      tableRoot: String,
      idCol: String,
      vecCol: String,
      indexPath: String,
      nLists: Int = 16,
      dim: Int = 768): Unit = {
    val v = graft.table.TxnTable.latestVersion(spark, tableRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"no table at $tableRoot — create() first"))
    writeIvfIndex(
      graft.table.TxnTable.snapshotAt(spark, tableRoot, v),
      idCol, vecCol, indexPath, nLists, dim)
    writeIndexSource(spark, indexPath,
      IndexSource(tableRoot, v, idCol, vecCol))
  }

  /** Partition-scoped index refresh shared by LSH and IVF: given the
    * net change rows between the recorded and current versions
    * (TxnTable.cdf — a two-snapshot diff, so each id appears at most
    * once as insert / delete / update pair), rewrite ONLY the
    * partition directories a changed row touches:
    *
    *   adds  = insert + update_postimage rows → their NEW partitions
    *   dels  = delete + update_preimage rows → their OLD partitions
    *   touched = partitions(adds) ∪ partitions(dels)   (bounded by
    *             2×|changes| and by the layout's partition count)
    *   new contents of touched = existing index rows there, minus any
    *             changed id, plus the add rows
    *
    * Dynamic-partition-overwrite rewrites exactly the touched dirs;
    * a touched dir whose new contents are EMPTY is deleted outright
    * (dynamic overwrite only replaces partitions it writes). O(changes
    * + touched dirs) — the source table is never re-scanned.
    */
  private def refreshPartitionedIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      partCol: String,
      src: IndexSource,
      cur: Long,
      rowsWithPartition: DataFrame => DataFrame): Unit = {
    val keys = graft.table.TxnTable.cdfKeysOf(spark, src.root)
      .getOrElse(Seq(src.idCol))
    val ch = graft.table.TxnTable.cdf(
      spark, src.root, src.version, cur, keys)
    // index rows (vec_id, v, partCol) for every change row, tagged add/del
    val tagged = rowsWithPartition(
      ch.select(col(src.idCol).cast("long").as("vec_id"),
        col(src.vecCol).as("v"),
        col("_change_type").as("_ct")))
    val adds = tagged
      .filter(col("_ct").isin("insert", "update_postimage")).drop("_ct")
    // BOUNDED collect: distinct partition ids of the change rows —
    // ≤ the layout's partition count (2^numPlanes / nLists) and
    // ≤ 2×|changes|, never corpus-sized
    val touched = tagged.select(partCol).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return
    // no broadcast hint: a small delta auto-broadcasts (AQE), a bulk
    // delete's id set shuffles instead of blowing the driver
    val changedIds = tagged.select("vec_id").distinct()
    val existing = spark.read.parquet(indexPath)
      .filter(col(partCol).isin(touched: _*))
      .join(changedIds, Seq("vec_id"), "left_anti")
    val fresh = existing.select("vec_id", "v", partCol)
      .unionByName(adds.select("vec_id", "v", partCol))
      .persist()
    try {
      // BOUNDED collect: same partition-count bound as `touched`
      val nonEmpty = fresh.select(partCol).distinct()
        .collect().map(_.get(0)).toSet
      fresh
        .repartition(col(partCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(indexPath)
      // partitions whose new contents are empty: nothing was written
      // over them — drop the stale directories explicitly
      val hconf = spark.sparkContext.hadoopConfiguration
      touched.filterNot(nonEmpty).foreach { p =>
        val dir = new org.apache.hadoop.fs.Path(
          indexPath, s"$partCol=$p")
        val fs = dir.getFileSystem(hconf)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    } finally fresh.unpersist()
  }

  /** Bring a source-bound LSH layout up to its table's current version.
    * Returns true iff a refresh ran (false = already fresh). O(changes
    * + touched bucket dirs); see [[refreshPartitionedIndex]].
    */
  def refreshLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      numPlanes: Int = 16,
      dim: Int = 768): Boolean =
    indexStaleness(spark, indexPath) match {
      case None => false
      case Some((src, cur)) =>
        requireLshParams(spark, indexPath, numPlanes, dim)
        val planes = Dedup.hyperplanes(numPlanes, dim)
        val bucketU =
          udf((v: Array[Float]) => Dedup.hyperplaneBucket(v, planes))
        refreshPartitionedIndex(spark, indexPath, "bucket", src, cur,
          rows => rows.withColumn("bucket", bucketU(col("v"))))
        writeIndexSource(spark, indexPath, src.copy(version = cur))
        true
    }

  /** IVF sibling of [[refreshLshIndex]]: changed rows are assigned to
    * the index's OWN frozen centroids (the [[appendToIvfIndex]]
    * contract), so only the touched `list_id` dirs are rewritten.
    */
  def refreshIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      dim: Int = 768): Boolean =
    indexStaleness(spark, indexPath) match {
      case None => false
      case Some((src, cur)) =>
        val centroids = readIvfCentroids(spark, indexPath)
        require(centroids.nonEmpty && centroids.forall(_._2.length == dim),
          s"index centroid width != dim=$dim")
        // withColumn keeps _ct riding along — update rows (same id,
        // pre+post) stay two distinct rows, never a join fan-out
        refreshPartitionedIndex(spark, indexPath, "list_id", src, cur,
          rows => assignToCentroids(rows, centroids, dim))
        centroidCache.remove(indexPath)
        writeIndexSource(spark, indexPath, src.copy(version = cur))
        true
    }

  /** [[lshTopKIndexed]] with the staleness contract enforced: refuse
    * (loud [[StaleIndexException]]) or refresh-then-probe when the
    * index lags its source table. Unbound legacy layouts probe as-is.
    */
  def lshTopKIndexedChecked(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      query: Array[Float],
      k: Int,
      numPlanes: Int = 16,
      probeHamming: Int = 2,
      refreshIfStale: Boolean = false): DataFrame = {
    indexStaleness(spark, indexPath).foreach { case (src, cur) =>
      if (refreshIfStale)
        refreshLshIndex(spark, indexPath, numPlanes, query.length)
      else throw new StaleIndexException(
        s"LSH index at $indexPath reflects ${src.root} version " +
          s"${src.version} but the table is at $cur — probe would " +
          "return deleted/overwritten vectors; refresh the index " +
          "(refreshLshIndex) or probe with refreshIfStale=true")
    }
    lshTopKIndexed(spark, indexPath, query, k, numPlanes, probeHamming)
  }

  /** IVF sibling of [[lshTopKIndexedChecked]]. */
  def ivfTopKIndexedChecked(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      query: Array[Float],
      k: Int,
      nProbe: Int = 4,
      refreshIfStale: Boolean = false): DataFrame = {
    indexStaleness(spark, indexPath).foreach { case (src, cur) =>
      if (refreshIfStale) refreshIvfIndex(spark, indexPath, query.length)
      else throw new StaleIndexException(
        s"IVF index at $indexPath reflects ${src.root} version " +
          s"${src.version} but the table is at $cur — probe would " +
          "return deleted/overwritten vectors; refresh the index " +
          "(refreshIvfIndex) or probe with refreshIfStale=true")
    }
    ivfTopKIndexed(spark, indexPath, query, k, nProbe)
  }
}
