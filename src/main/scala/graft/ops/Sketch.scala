package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-value sketches and sketch-based
  * overlap estimation between corpus slices.
  *
  * The question these answer at 100 TB: "how much does slice A's
  * vocabulary overlap slice B's?" (train-vs-eval leakage triage,
  * per-domain vocabulary drift, crawl-snapshot diffing). Exact
  * distinct-intersection is a full shuffle of every distinct token per
  * slice; a KMV sketch reduces each slice to its k smallest distinct
  * hash values — a bounded, MERGEABLE summary (union-sketch = k smallest
  * of the concatenated sketches), after which every pairwise comparison
  * runs on #groups × k rows on one executor's worth of data.
  *
  * Estimator (Beyer et al., "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations", SIGMOD'07): with U_k the k-th smallest
  * hash normalized to (0,1), distinct-count ≈ (k-1)/U_k; for a pair, the
  * Jaccard estimate is the fraction of the k-truncated UNION sketch
  * present in both sides' sketches, and the intersection estimate is
  * that fraction times the union estimate.
  *
  * Determinism: values are hashed with the library-wide FNV-1a
  * ([[graft.util.Hashing.fnv]]) and ordered UNSIGNED (sign-bit flip —
  * xor, which cannot overflow under ANSI); every estimate is a pure
  * function of the input value set, so the DuckDB oracle replays the
  * whole computation bit-for-bit (hash fold in HUGEINT mod-2^64
  * arithmetic, same normalization algebra).
  */
object Sketch {

  /** Library FNV-1a as a native codegen'd expression
    * (graft.functions.FnvHash64) — the sketch's only corpus-sized stage
    * stays inside whole-stage codegen; a Scala UDF here would fence it.
    */
  private def fnvCol(df: DataFrame, c: org.apache.spark.sql.Column) = {
    graft.functions.FnvHash64.register(df.sparkSession)
    graft.functions.FnvHash64.fnv64(c)
  }

  /** Sign-bit flip: signed order of (h ^ Long.MinValue) == unsigned
    * order of h. xor never overflows, so this is ANSI-safe (a `+
    * Long.MinValue` trick would throw on wrap).
    */
  private def flip(c: org.apache.spark.sql.Column) =
    c.bitwiseXOR(lit(Long.MinValue))

  /** KMV sketch per group: the k smallest (unsigned-ordered) distinct
    * FNV-1a hashes of `valueCol` within each `groupCol` value.
    *
    * Returns one row per retained hash: (grp, rank, h, f) with `f` the
    * sign-flipped hash (ascending f == ascending unsigned h) and rank
    * 1-based in that order.
    *
    * Scale shape: distinct(group, value) is a map-side-combined
    * aggregate (the only corpus-sized shuffle, keyed uniformly by
    * value); the per-group top-k is a rank filter Spark executes as
    * Partial+Final WindowGroupLimit — each map task forwards at most k
    * rows per group to the window exchange, so the sketch build never
    * concentrates a group's full vocabulary on one reducer.
    */
  def kmvSketch(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 2, "KMV needs k >= 2 (estimator divides by k-1)")
    val hashed = df
      .select(col(groupCol).as("grp"), col(valueCol).as("v"))
      .distinct()
      .select(col("grp"), fnvCol(df, col("v")).as("h"))
      // distinct again: two values may collide to one hash — the sketch
      // is a set of HASHES, and both engines must dedup identically
      .distinct()
      .withColumn("f", flip(col("h")))
    val w = Window.partitionBy("grp").orderBy(col("f"))
    hashed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("grp", "rank", "h", "f")
  }

  /** Pairwise overlap estimates between every pair of groups, from their
    * KMV sketches alone (the corpus is scanned once, by [[kmvSketch]]).
    *
    * Output per unordered pair (grp_a < grp_b):
    *   - `k_union`   — min(k, |sketch_a ∪ sketch_b|), the union-sketch size
    *   - `n_both`    — union-sketch hashes present in BOTH sketches
    *   - `jaccard_est`      — n_both / k_union, rounded 6dp
    *   - `union_est`        — KMV distinct estimate of |A ∪ B|, rounded 4dp
    *   - `intersection_est` — jaccard_est · union_est, rounded 4dp
    *
    * Everything after the sketch build is O(#groups² · k) — driver-tiny,
    * but kept as a declarative plan (no collect) so the same code serves
    * thousands of groups.
    */
  def kmvOverlap(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int
  ): DataFrame = {
    // rename the sketch's grp before the pair join: pairs derives from
    // the same sketch plan, and a df("grp") reference across a self-join
    // lineage is ambiguous
    // persist (r16): sk feeds the group list AND the pair join — cached,
    // the corpus-sized hash+top-k sketch build runs ONCE (persist rather
    // than checkpoint so the planner keeps the aggregate's size stats)
    val sk = kmvSketch(df, groupCol, valueCol, k)
      .select(col("grp").as("s_grp"), col("h"), col("f"))
      .persist()
    val groups = sk.select(col("s_grp")).distinct()
    val pairs = groups.select(col("s_grp").as("grp_a"))
      .join(groups.select(col("s_grp").as("grp_b")),
        col("grp_a") < col("grp_b"))
    // union of the two sketches per pair, with per-side membership flags
    val unioned = pairs
      .join(sk, col("s_grp") === col("grp_a") || col("s_grp") === col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"), col("h"), col("f"))
      .agg(
        max(when(col("s_grp") === col("grp_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("s_grp") === col("grp_b"), 1).otherwise(0)).as("in_b"))
    val w = Window.partitionBy("grp_a", "grp_b").orderBy(col("f"))
    val ranked = unioned.withColumn("r", row_number().over(w))
    ranked
      .filter(col("r") <= k)
      .groupBy("grp_a", "grp_b")
      .agg(
        count(lit(1)).cast("int").as("k_union"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1).otherwise(0))
          .cast("int").as("n_both"),
        // U_k of the union sketch: k_union-th smallest, normalized to
        // (0,1) — f/2^64 + 0.5 maps the flipped signed value back to the
        // unsigned unit interval, in pure DOUBLE algebra both engines
        // share
        (max(col("f")).cast("double") / lit(1.8446744073709552e19) +
          lit(0.5)).as("u_k"))
      .select(
        col("grp_a"), col("grp_b"), col("k_union"), col("n_both"),
        round(col("n_both").cast("double") / col("k_union"), 6)
          .as("jaccard_est"),
        // unsaturated union sketch (k_union < k) holds the exact hash
        // set — report the exact count, matching kmvDistinctEst
        when(col("k_union") < k, col("k_union").cast("double"))
          .otherwise(
            round((col("k_union") - 1).cast("double") / col("u_k"), 4))
          .as("union_est"))
      .withColumn("intersection_est",
        round((col("n_both").cast("double") / col("k_union")) *
          col("union_est"), 4))
  }

  /** Merge two sketch row-sets into the k-truncated union per group —
    * the KMV merge operator. Associative, commutative, idempotent
    * (set-union then re-truncate), so incremental maintenance over any
    * micro-batch arrival order converges to the one-shot sketch — the
    * property OpsSpec's mergeability test pins.
    */
  def mergeSketches(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("grp").orderBy(col("f"))
    a.select("grp", "h", "f")
      .unionByName(b.select("grp", "h", "f"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("grp", "rank", "h", "f")
  }

  /** Per-group distinct estimate from existing sketch ROWS (the final
    * read of an incrementally-maintained sketch state).
    */
  def distinctEstOf(sketch: DataFrame, k: Int): DataFrame =
    sketch.groupBy("grp")
      .agg(count(lit(1)).cast("int").as("n_kept"),
        max(col("f")).as("f_max"))
      .select(col("grp"), col("n_kept"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(
            round((col("n_kept") - 1).cast("double") /
              (col("f_max").cast("double") / lit(1.8446744073709552e19) +
                lit(0.5)), 4))
          .as("distinct_est"))

  /** KMV distinct-count estimate per group: (k-1)/U_k, with the exact
    * sketch size and the small-set exact answer when the group has fewer
    * than k distinct hashes (then the sketch IS the value set).
    */
  def kmvDistinctEst(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int
  ): DataFrame =
    distinctEstOf(kmvSketch(df, groupCol, valueCol, k), k)
}
