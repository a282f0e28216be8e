package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What is left of the SQL analytics gate: the statistical-battery
  * queries (`queries/StatBatteryQueries.scala`) and the helpers they
  * share. No kept code and no embedbench workload calls them; they
  * stay only with their tests (`Round10Spec`, `Round11Spec`,
  * `Round16Spec`) and go in the next cut step (ROADMAP item 4).
  *
  * Determinism rules used throughout (results hash-identically across
  * cluster layouts):
  *   - double aggregates accumulate via exact DECIMAL then cast to double
  *     (associativity-proof under any partial-aggregation order);
  *   - every query ends in a total ORDER BY on a unique key.
  */
object SparkEntry extends SparkEntryStatBatteries {

  private[graft] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Guarantee at least the cluster's default parallelism ahead of a
    * compute-amplifying narrow stage (a ×200 explode, a per-row digest,
    * an all-pairs fold). Parquet sizes scan tasks by INPUT bytes and a
    * row group is the atomic split unit, so a small single-row-group
    * file pins the whole downstream stage to ONE task no matter how
    * much work the stage fans out (guide §2.5 "input skew — repartition
    * immediately after the read"). No-op whenever the scan already has
    * enough splits — at real scale inputs arrive in many row groups and
    * no shuffle is added; when it does fire it shuffles only the small
    * PRE-amplification rows (guide §8: move lightweight proxies, let
    * the heavy work happen after placement).
    *
    * r17 (VERDICT "what's wrong" #4): the split-count probe no longer
    * forces physical planning + RDD materialization per call
    * (`df.rdd.getNumPartitions`) — it estimates scan splits the same
    * way Spark's own FilePartition packing does, bytes ÷
    * maxPartitionBytes, from the optimizer's size estimate. At real
    * scale the estimate is ≫ parallelism and the happy path costs one
    * stats lookup; the conservative direction (an underestimate fires
    * a repartition of small pre-amplification rows) is harmless.
    */
  private[graft] def fanout(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val maxPB = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val estSplits =
      (df.queryExecution.optimizedPlan.stats.sizeInBytes / maxPB) + 1
    if (estSplits >= p) df else df.repartition(p)
  }

  /** DETERMINISTIC fixed-point rounding — floor(x·10^k + 0.5)/10^k in
    * pure IEEE double ops: floor of a double is exact on every engine,
    * so unlike `round(double, k)` there is NO rounding mode left to
    * disagree about when x·10^k lands exactly on a .5 tie (Spark
    * HALF_UPs the decimal rendering; DuckDB nearbyints the scaled
    * product, with tie behavior that has differed across DuckDB
    * versions — the r12/r13 red-row class). Used for every readout
    * found tie-sensitive at sf0.01; see BASELINE.md "rounding
    * determinism".
    */
  private[graft] def rndDet(c: Column, k: Int): Column = {
    val s = math.pow(10, k)
    floor(c * lit(s) + lit(0.5d)) / lit(s)
  }

  /** Event time as integer epoch MICROSECONDS, resolved by the input's
    * actual schema. The fixtures have shipped `events.ts` both as
    * TIMESTAMP(NANOS) — which Spark surfaces as LongType nanos under
    * spark.sql.legacy.parquet.nanosAsLong — and as a plain `timestamp`
    * column (what every production parquet lake has), so the engine
    * accepts both: LongType → integer DIV, TimestampType → unix_micros
    * (NTZ first reinterpreted in the session zone, UTC everywhere here).
    * Downstream math stays integer-µs under either encoding.
    */
  def eventTsUs(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case org.apache.spark.sql.types.TimestampType => unix_micros(col("ts"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case t => throw new IllegalArgumentException(
        s"events.ts: unsupported event-time type $t " +
          "(expected TIMESTAMP, TIMESTAMP_NTZ, or LongType nanos)")
    }

  /** `ts_event` (TimestampType event time, µs precision) appended —
    * the watermark/window input column. A native TimestampType `ts`
    * passes through untouched (no round-trip through integers).
    */
  def withTsEvent(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts_event", col("ts"))
      case _ => df.withColumn("ts_event", timestamp_micros(eventTsUs(df)))
    }

  /** Shared WRITE-ONCE artifact plumbing — the path is keyed by the build
    * signature + the source table's file manifest (name/length/mtime),
    * the build runs only when the `_SUCCESS` marker is absent, and all
    * paths go through the Hadoop FileSystem of `spark.graft.scratch`
    * (shared FS / object store on a real cluster; java.io.tmpdir in
    * local mode). Regenerated input → fresh manifest → fresh key →
    * fresh build; an interrupted write never leaves `_SUCCESS`, so it
    * is retried, never trusted.
    */
  def writtenArtifact(
      s: SparkSession, dir: String, srcTable: String, sig0: String)(
      build: => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val hconf = s.sparkContext.hadoopConfiguration
    val src = new Path(s"$dir/$srcTable.parquet")
    val manifest = src.getFileSystem(hconf).listStatus(src)
      .sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sig0|$dir|$manifest"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val scratch = new Path(s.conf.getOption("spark.graft.scratch")
      .getOrElse(sys.props("java.io.tmpdir")))
    val p = new Path(scratch, s"graft_art_$key")
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(new Path(p, "_SUCCESS")))
      build.write.mode("overwrite").parquet(p.toString)
    s.read.parquet(p.toString)
  }

  /** WRITE-ONCE co-supplier edge artifact: the DIRECTED symmetric
    * edge set (src, dst), src != dst, deduplicated — suppliers joined
    * through shared low-quantity parts (never supplier × supplier).
    * The graph queries (k-truss, rich club, Katz) consume this ONE
    * build as a parquet read instead of each paying the distinct +
    * self-join + distinct.
    * Oriented (u < v) consumers derive their view with a narrow
    * filter; no distinct needed downstream (the directed set is
    * already exact).
    */
  def writtenEdgesTable(s: SparkSession, dir: String): DataFrame =
    writtenArtifact(s, dir, "lineitem", "edges-v1|qty<=2|sym-distinct") {
      val ps = tbl(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      ps.as("a").join(ps.as("b"), "l_partkey")
        .filter(col("a.l_suppkey") =!= col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
        .distinct()
    }

  /** One entry per statistical-battery query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quantile_sketch" -> qQuantileSketch,
    "q_log_rank" -> qLogRank,
    "q_wilcoxon_signed" -> qWilcoxonSigned,
    "q_rake_keywords" -> qRakeKeywords,
    "q_textrank" -> qTextrank,
    "q_silhouette" -> qSilhouette,
    "q_ktruss" -> qKtruss,
    "q_sortino" -> qSortino,
    "q_fisher_exact" -> qFisherExact,
    "q_gumbel_maxima" -> qGumbelMaxima,
    "q_dispersion" -> qDispersion,
    "q_hodges_lehmann" -> qHodgesLehmann,
    "q_cohens_d" -> qCohensD,
    "q_cramers_v" -> qCramersV,
    "q_permutation_test" -> qPermutationTest,
    "q_ols_multi" -> qOlsMulti,
    "q_ridge_path" -> qRidgePath,
    "q_vif" -> qVif,
    "q_mahalanobis" -> qMahalanobis,
    "q_perm_entropy" -> qPermEntropy,
    "q_sample_entropy" -> qSampleEntropy,
    "q_periodogram" -> qPeriodogram,
    "q_chow_test" -> qChowTest,
    "q_friedman" -> qFriedman,
    "q_wasserstein" -> qWasserstein,
    "q_cvm_uniform" -> qCvmUniform,
    "q_cochran_q" -> qCochranQ,
    "q_katz" -> qKatz,
    "q_markov_stationary" -> qMarkovStationary,
    "q_jonckheere" -> qJonckheere,
    "q_page_trend" -> qPageTrend,
    "q_bartlett" -> qBartlett,
    "q_breusch_pagan" -> qBreuschPagan,
    "q_cooks_distance" -> qCooksDistance,
    "q_icc" -> qIcc,
    "q_variance_ratio" -> qVarianceRatio,
    "q_spectral_entropy" -> qSpectralEntropy,
    "q_turning_points" -> qTurningPoints,
    "q_mantel_haenszel" -> qMantelHaenszel,
    "q_atkinson" -> qAtkinson,
    "q_rich_club" -> qRichClub,
    "q_brier_ece" -> qBrierEce,
    "q_mcc" -> qMcc,
    "q_siegel_slopes" -> qSiegelSlopes,
    "q_qn_scale" -> qQnScale,
    "q_fisher_index" -> qFisherIndex,
    "q_pacf" -> qPacf,
    "q_seasonal_strength" -> qSeasonalStrength,
    "q_moods_median" -> qMoodsMedian,
    "q_entropy_rate" -> qEntropyRate,
    "q_abc_analysis" -> qAbcAnalysis,
    "q_cointegration" -> qCointegration,
    "q_pot_tail" -> qPotTail,
    "q_pettitt" -> qPettitt,
    "q_cliffs_delta" -> qCliffsDelta,
    "q_median_polish" -> qMedianPolish,
    "q_seasonal_mk" -> qSeasonalMk,
    "q_hoover" -> qHoover,
    "q_palma" -> qPalma
  )
}
