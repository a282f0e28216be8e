package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * Scale shape: both samplers are one narrow pass + (for the per-group
  * variant) one window over the group key — WindowGroupLimit keeps
  * per-task state at k rows, so a group never funnels its full
  * membership through one reducer's memory. No RNG state anywhere: the
  * "randomness" is a hash of the row's unique id, so the sample is
  * reproducible across runs, partitionings and engines (the DuckDB
  * oracle replays it exactly).
  */
object Sampling {

  /** Uniform-in-[0,1) driven by md5 of the row id — the same
    * hash-as-randomness idiom as a hash-digit sample, widened from a
    * digit test to a full 32-bit uniform: first 8 hex digits → integer →
    * `(v + 0.5) / 2^32` (the +0.5 keeps u strictly positive so ln(u) is
    * finite).
    */
  def hashUniform(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("double")
      + lit(0.5)) / lit(4294967296.0)

  /** Weighted sampling WITHOUT replacement, k rows per group
    * (Efraimidis–Spirakis A-ES priority sampling): rank rows by
    * `ln(u) / w` descending — the monotone equivalent of the textbook
    * `u^(1/w)` key, better conditioned for large weights — and keep the
    * top k per group. Inclusion probability is proportional to weight,
    * exactly the "sample documents proportional to token count within
    * each source/domain" step of corpus mixing.
    *
    * The ranking key is ROUNDED (×1000, 6 dp) with the id as tiebreak,
    * the repo-wide determinism contract for cross-engine rank stability
    * (see Similarity's round(cosine,4) surfaces). Weights must be > 0;
    * non-positive weights would rank NaN/positive keys first, so they
    * are filtered out rather than silently favored.
    */
  def weightedSamplePerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      k: Int
  ): DataFrame = {
    val key = round(
      log(hashUniform(col(idCol))) * lit(1000.0) / col(weightCol), 6)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("sample_key").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("sample_key", key)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic train/validation/test split assignment — the "held-out
    * sets must never move between runs" contract every training pipeline
    * needs: membership is a pure function of (seed, id), so re-running
    * over a grown corpus never migrates an old document across splits,
    * and any engine (the DuckDB oracle included) can recompute the
    * assignment from the id alone. A seeded variant of [[hashUniform]]:
    * `u = md5("<seed>:<id>")`-uniform, then threshold at the cumulative
    * fractions. Narrow one-pass projection — no shuffle, no state, works
    * identically on a stream.
    */
  def splitAssign(
      df: DataFrame,
      idCol: String,
      seed: Long,
      trainFrac: Double,
      valFrac: Double
  ): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "need 0 < trainFrac, 0 <= valFrac, trainFrac + valFrac < 1")
    val u = hashUniform(
      concat(lit(s"$seed:"), col(idCol).cast("string")))
    df.withColumn("split_u", round(u, 6))
      .withColumn("split",
        when(col("split_u") < trainFrac, "train")
          .when(col("split_u") < trainFrac + valFrac, "val")
          .otherwise("test"))
  }

  /** Temperature-scaled source mixing weights (the multilingual/
    * multi-corpus standard: sample source i with probability
    * `n_i^alpha / sum_j n_j^alpha`, alpha in (0,1] — alpha=1 is
    * proportional, alpha→0 is uniform; 0.3 is the common "upsample the
    * tail" setting). Returns one row per source with the raw share, the
    * temperature share, and the boost factor a sampler must apply.
    *
    * Scale shape: one map-side-combined count aggregation over the
    * corpus, then the #sources-row totals BROADCAST back — the corpus
    * is scanned once and never reshuffled; everything downstream is
    * O(#sources), which is tiny by construction.
    */
  def temperatureMix(
      df: DataFrame,
      groupCol: String,
      alpha: Double
  ): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(
      sum(col("n_docs")).as("total_docs"),
      sum(pow(col("n_docs"), lit(alpha))).as("total_pow"))
    counts.crossJoin(broadcast(totals))
      .select(col(groupCol),
        col("n_docs"),
        round(col("n_docs") / col("total_docs"), 6).as("p_raw"),
        round(pow(col("n_docs"), lit(alpha)) / col("total_pow"), 6)
          .as("p_mix"),
        round(pow(col("n_docs"), lit(alpha)) / col("total_pow")
          / (col("n_docs") / col("total_docs")), 6).as("boost"))
  }

  /** Deterministic epoch shuffle + shard assignment — the global
    * permutation a data loader consumes, WITHOUT a global sort: each row
    * hashes to a shard (`mix64(id XOR seed)`, uniform by construction),
    * and its position within the shard is the rank of that hash. A new
    * seed is a new permutation; the same seed replays byte-identically.
    *
    * Scale shape: one shuffle on the shard key into `nShards` uniform
    * partitions, then a per-shard sort — never a single total-order
    * reducer. At 100 TB you pick nShards in the thousands so each
    * shard's sort fits an executor; the shard files then stream to
    * loaders in (shard, pos) order.
    */
  def epochShard(
      df: DataFrame,
      idCol: String,
      seed: Long,
      nShards: Int
  ): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val h = udf((id: Long) => graft.util.Hashing.mix64(id ^ seed))
      .apply(col(idCol).cast("long"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col(idCol))
    df.withColumn("shuffle_key", h)
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong))
        .cast("int"))
      .withColumn("pos", row_number().over(w))
  }
}
