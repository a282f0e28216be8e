package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.engine.InceptionEngine

/** Wider relational surface: window frames, range joins, statistical aggregates, scalar breadth, melt/cross/set-ALL, feature prep.
  *
  * Split out of SparkEntry.scala (round 16): members mix into
  * [[SparkEntry]] and resolve against its full surface via the
  * self-type; mixin order in SparkEntry preserves the original
  * declaration (and so val-initialization) order.
  */
private[graft] trait SparkEntryRelational { this: SparkEntry.type =>

  // ------------------------------------------------------------------
  // Wider relational surface: window frames, range joins, statistical
  // aggregates, date/string/array/JSON scalar breadth — all oracle-checked
  // ------------------------------------------------------------------

  /** Full window-frame surface in one pass: lag/lead offsets, an explicit
    * ROWS frame for first_value and a 3-row moving sum, ntile bucketing
    * and percent_rank — all over the same per-customer ordering (unique
    * tie-break ⇒ deterministic). Money in integer cents so frame sums are
    * FP-association-proof.
    */
  def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    tbl(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(cents, 1).over(w).as("prev_cents"),
        lead(cents, 1).over(w).as("next_cents"),
        first(cents)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_cents"),
        sum(cents).over(w.rowsBetween(-2, 0)).as("moving_cents"),
        ntile(4).over(w).cast("long").as("quartile"),
        // percent_rank = (rank-1)/(n-1): small denominators land ON
        // .5 ties at 6dp — deterministic floor-form readout (rndDet)
        rndDet(percent_rank().over(w), 6).as("pct_rank"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** The tie-sensitive window ranks: rank/dense_rank/cume_dist computed
    * over the DATE ordering (ties collapse identically in any engine —
    * their values depend only on sort-key values, not tie order) and
    * nth_value over the unique tie-broken ordering.
    */
  def qWindowRanks(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val unique = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(byDate).cast("long").as("rk"),
        dense_rank().over(byDate).cast("long").as("drk"),
        round(cume_dist().over(byDate), 6).as("cd"),
        nth_value(cents, 2).over(unique).as("second_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** RANGE frame over a numeric ordering: per customer, orders placed in
    * the trailing 30 days (value-based frame — peers by day, not rows;
    * the time-decay aggregation shape).
    */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, 0)
    tbl(s, dir, "orders")
      .withColumn("day",
        datediff(col("o_orderdate").cast("date"),
          lit("1990-01-01").cast("date")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        count(lit(1)).over(w).as("n_30d"),
        sum(col("cents")).over(w).as("cents_30d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Range (band/interval) join: parts bucketed into price bands via an
    * inequality join against a tiny inline dimension — broadcast
    * nested-loop, the scale-correct plan for band joins (the band table is
    * O(1) regardless of SF).
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (0, 0.0, 1000.0), (1, 1000.0, 1300.0),
      (2, 1300.0, 1600.0), (3, 1600.0, 5000.0))
      .toDF("band_id", "lo", "hi")
    tbl(s, dir, "part")
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
      .orderBy("band_id")
  }

  /** Statistical aggregate surface: Pearson correlation, sample
    * stddev/variance/covariance per group (single-pass co-moment
    * aggregates with map-side partials; normalized outputs rounded so the
    * partial-merge association order can't flip a digit).
    */
  def qStatsAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6)
          .as("cov_qty_disc"))
      .orderBy("l_returnflag")

  /** Date/time scalar surface: component extraction, month truncation,
    * day arithmetic, end-of-month — timestamps emitted as epoch micros
    * (bigint) per the determinism rules.
    */
  def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        quarter(col("o_orderdate")).as("qtr"),
        unix_micros(date_trunc("MONTH", col("o_orderdate").cast("timestamp")))
          .as("month_start_us"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("days_since_95"),
        unix_micros(last_day(col("o_orderdate")).cast("timestamp"))
          .as("eom_us"))
      .orderBy("o_orderkey")

  /** Fuzzy/string scalar surface: edit distance (the fuzzy-dedup
    * primitive), reverse/pad/split/regex-extract/position.
    */
  def qStringFuzzy(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .select(
        col("p_partkey"),
        levenshtein(substring(col("p_name"), 1, 10), col("p_brand"))
          .as("lev_dist"),
        reverse(col("p_brand")).as("brand_rev"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        element_at(split(col("p_type"), " "), 1).as("type_first"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("name_last_word"),
        instr(col("p_name"), "al").as("al_pos"))
      .orderBy("p_partkey")

  /** Higher-order array functions over the embedding column — the
    * codegen'd no-UDF path for vector math (aggregate/transform/filter/
    * slice): L2 norm, positive-component count, head-slice mean.
    */
  def qArrayFuncs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")
      .select(
        col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 5)
          .as("l2_norm"),
        size(filter(col("embedding"), x => x > lit(0.0f))).as("n_pos"),
        round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
          (acc, x) => acc + x.cast("double")) / 8.0, 6).as("head_mean"))
      .orderBy("vec_id")

  /** Subquery surface through the SQL front-end: uncorrelated IN plus
    * correlated EXISTS (planned as semi joins after decorrelation).
    */
  def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "customer").createOrReplaceTempView("customer_v")
    tbl(s, dir, "nation").createOrReplaceTempView("nation_v")
    tbl(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, c_name FROM customer_v
         WHERE c_nationkey IN (SELECT n_nationkey FROM nation_v
                               WHERE n_regionkey = 1)
           AND EXISTS (SELECT 1 FROM orders_v
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""")
  }

  /** PER-DOMAIN document cap — the crawl-curation rule "keep at most N
    * documents per source" (boilerplate-heavy domains must not dominate
    * the corpus). Deterministic keep order (doc_id within source), rank
    * ≤ N planned as Partial+Final WindowGroupLimit — each map task
    * forwards at most N rows per source to the exchange, so a
    * 100-million-doc domain costs its cap, not its size.
    */
  def qDomainCap(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 50)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), max(col("doc_id")).as("max_kept_id"))
      .orderBy("source")
  }

  /** TRIANGLE COUNTING over the co-supplier graph (suppliers sharing a
    * part; the q_pagerank edge construction) — the standard graph
    * cohesion metric. Edges oriented low→high id, so each triangle is
    * counted ONCE by joining oriented wedges against the oriented edge
    * set; never enumerates unordered pairs twice. Per-node counts
    * aggregate the triangle corners.
    */
  def qTriangleCount(s: SparkSession, dir: String): DataFrame = {
    // oriented edge set u < v — each undirected edge appears once
    // (narrow filter over the directed artifact; already distinct)
    val und = writtenEdgesTable(s, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    // wedges u<v<w closed against the oriented edges: each triangle
    // found exactly once. (Id orientation suffices at this degree
    // profile; at adversarial-skew scale, orient by degree so the
    // wedge fan-out is bounded by the SMALLER endpoint's degree.)
    val wedges = und.as("x").join(und.as("y"), col("x.v") === col("y.u"))
      .select(col("x.u").as("u"), col("x.v").as("v"), col("y.v").as("w"))
    val tri = wedges.join(
      und.select(col("u").as("tu"), col("v").as("tw")),
      col("u") === col("tu") && col("w") === col("tw"))
      .select("u", "v", "w")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(10)
  }

  /** K-ANONYMITY audit: quasi-identifier groups with fewer than k
    * members are re-identification risks the release gate must flag.
    * One grouped count + HAVING — the privacy checklist's first query.
    */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < 10)
      .orderBy("lang", "source")

  /** ONE-PASS data profiling: per-column null count, exact distinct
    * count, and numeric min/max for a column set, computed in a SINGLE
    * aggregation over one scan (the multiple COUNT(DISTINCT)s plan as
    * one Expand — never a scan per column, which is how naive profilers
    * price a 100 TB health check), then stacked to long format. The
    * profile every ingest pipeline runs before trusting a new drop.
    */
  def qDataProfile(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderstatus")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).cast("long")
          .as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c"),
        (if (numeric(c)) min(col(c)).cast("double")
         else lit(null).cast("double")).as(s"min_$c"),
        (if (numeric(c)) max(col(c)).cast("double")
         else lit(null).cast("double")).as(s"max_$c"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', null_$c, dist_$c, min_$c, max_$c").mkString(", ")
    o.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_null, n_distinct, min_v, max_v)"))
      .select(col("column_name"), col("n_null").cast("long").as("n_null"),
        col("n_distinct").cast("long").as("n_distinct"),
        col("min_v"), col("max_v"))
      .orderBy("column_name")
  }

  /** ONE-PASS expectation checking (the dbt-test / Great-Expectations
    * shape): named rule predicates evaluated as conditional sums in a
    * single aggregation — N rules cost one scan, not N. NULL rule
    * results count as violations (an unknown is not a pass).
    */
  def qExpectations(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val rules: Seq[(String, Column)] = Seq(
      ("orderkey_positive", col("o_orderkey") > 0),
      ("status_in_domain", col("o_orderstatus").isin("O", "F", "P")),
      ("price_nonnegative", col("o_totalprice") >= 0),
      ("custkey_not_null", col("o_custkey").isNotNull))
    val aggs = count(lit(1)).as("n_rows") +: rules.map { case (n, c) =>
      sum(when(!coalesce(c, lit(false)), 1).otherwise(0)).cast("long")
        .as(s"viol_$n")
    }
    val stackArgs = rules.map { case (n, _) =>
      s"'$n', viol_$n, viol_$n = 0L" }.mkString(", ")
    o.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"),
        expr(s"stack(${rules.size}, $stackArgs) AS " +
          "(rule, n_violations, pass)"))
      .select(col("rule"), col("n_rows"),
        col("n_violations").cast("long").as("n_violations"), col("pass"))
      .orderBy("rule")
  }

  /** NULL-SAFE join (`<=>` / IS NOT DISTINCT FROM): two per-status
    * summaries joined on a NULLable key (NULLIF folds 'P' to NULL) —
    * ordinary equality would silently drop the NULL group; the
    * null-safe operator matches it. The dimension-conformance join
    * every warehouse with optional keys needs.
    */
  def qNullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val a = o.groupBy(expr("nullif(o_orderstatus, 'P')").as("k"))
      .agg(count(lit(1)).as("n_orders"))
    val b = o.groupBy(expr("nullif(o_orderstatus, 'P')").as("kb"))
      .agg(dsum(col("o_totalprice")).as("sum_price"))
    a.join(b, col("k") <=> col("kb"))
      .select(col("k"), col("n_orders"), col("sum_price"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** RELATIONAL DIVISION ("for all"): customers with orders in EVERY
    * order priority — the classic universal-quantifier SQL shape,
    * planned as two distinct-count aggregates and a scalar-subquery
    * comparison (no nested anti-join double-negation needed).
    */
  def qRelDivision(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_custkey AS c_custkey,
           COUNT(DISTINCT o_orderpriority) AS n_prio
         FROM orders_v
         GROUP BY o_custkey
         HAVING COUNT(DISTINCT o_orderpriority) =
           (SELECT COUNT(DISTINCT o_orderpriority) FROM orders_v)
         ORDER BY c_custkey""")
  }

  /** FILTERED vector search: exact top-k among vectors passing a
    * metadata predicate (label = 3) — the "filtered ANN" shape every
    * production vector store needs. The label predicate is pushed to
    * the parquet scan (PlanSpec asserts PushedFilters), so the distance
    * kernel prices only survivors; at 100 TB with a label-partitioned
    * or bloom-indexed layout the filter prunes files before any vector
    * byte is read.
    */
  def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Similarity.bruteForceTopK(
      e.filter(col("label") === 3), "vec_id", "embedding", q, 10)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** HEAVY HITTERS (two-phase): per-partition SpaceSaving sketches
    * propose a candidate superset, one exact recount over only the
    * candidate rows finalizes — top-k over skewed key spaces WITHOUT
    * shuffling the whole vocabulary. Counts are exact, so the oracle is
    * the plain exact top-k; the sketch-superset guarantee is OpsSpec's
    * job (adversarial skew + partitioning).
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.ops.HeavyHitters.topK(
      tbl(s, dir, "documents").select(explode(expr(tokensSql)).as("w")),
      "w", 15, capacity = 1024)

  /** GAPS-AND-ISLANDS: maximal runs of CONSECUTIVE ACTIVE DAYS per user
    * (activity streaks) — the classic "islands" shape, via the
    * epoch-day-minus-row_number grouping key over the distinct
    * (user, day) set. One user-keyed window + one (user, island)
    * aggregate; both partitionings are user-scale, never global.
    */
  def qIslands(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "events").createOrReplaceTempView("events_gi_v")
    s.sql(
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events_gi_v),
         g AS (SELECT user_id, day,
             datediff(day, DATE '1970-01-01')
               - ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY day) AS grp
           FROM d),
         runs AS (SELECT user_id, MIN(day) AS run_start,
             MAX(day) AS run_end, COUNT(*) AS run_len
           FROM g GROUP BY user_id, grp)
         SELECT user_id, run_start, run_end, run_len
         FROM runs WHERE run_len >= 5
         ORDER BY user_id, run_start""")
  }

  /** TPC-H Q2-shaped MIN-COST SUPPLIER: per part (p_size = 10 slice),
    * the supplier(s) whose best observed unit price equals the part's
    * minimum — a CORRELATED scalar subquery over a derived aggregate,
    * the canonical "argmin within group via subquery" relational shape.
    * Catalyst decorrelates the subquery into a min-per-part aggregate +
    * join; cost is a double MIN (identical value both engines, so the
    * equality predicate is engine-safe), rounded only for display.
    */
  def qMinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    // r16 optimization: the correlated-MIN SQL form evaluated the `ps`
    // lineitem aggregate TWICE (CTEs aren't materialized; the
    // decorrelated scalar subquery re-derives ps). Same result from ONE
    // fenced ps: the per-part minimum is a second keyed aggregate over
    // ps, and the equality filter is unchanged (cost = per-part MIN over
    // ALL suppliers of the part, before the p_size restriction — the
    // oracle's correlated form replays that exactly).
    val ps = tbl(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
      .persist()
    val minc = ps.groupBy("l_partkey").agg(min(col("cost")).as("mc"))
    ps.join(minc, "l_partkey")
      .filter(col("cost") === col("mc"))
      .join(tbl(s, dir, "part").filter(col("p_size") === 10)
        .select(col("p_partkey").as("l_partkey"), col("p_partkey")),
        "l_partkey")
      .join(tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name")),
        "l_suppkey")
      .select(col("p_partkey"), col("s_name"),
        round(col("cost"), 4).as("cost"))
      .orderBy("p_partkey", "s_name")
  }

  /** TPC-H Q15-shaped TOP-REVENUE SUPPLIER: a revenue "view" (decimal-
    * exact sum over a shipdate window) probed by an uncorrelated MAX
    * subquery — the view + scalar-subquery-on-aggregate shape. Exact
    * DECIMAL revenue makes the MAX equality engine-safe.
    */
  def qRevenueView(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_rv_v")
    tbl(s, dir, "supplier").createOrReplaceTempView("supplier_rv_v")
    s.sql(
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(18,6))) AS total_revenue
           FROM lineitem_rv_v
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
         FROM supplier_rv_v s
         JOIN revenue r ON s.s_suppkey = r.supplier_no
         WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
         ORDER BY s.s_suppkey""")
  }

  /** TPC-H Q17-shaped SMALL-ORDER REVENUE: average yearly revenue lost
    * if small orders (quantity below 20%% of the part's average) were
    * dropped — the correlated-AVG filter shape. Per-brand output keeps
    * more than one row under the oracle's hash. The inner AVG is a
    * double over identical inputs (engine-identical), 0.2× is exact,
    * and the revenue sum is decimal-exact.
    */
  def qSmallOrderRevenue(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_so_v")
    tbl(s, dir, "part").createOrReplaceTempView("part_so_v")
    s.sql(
      """SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS lost_revenue,
           COUNT(*) AS n_lines
         FROM lineitem_so_v l JOIN part_so_v p ON l.l_partkey = p.p_partkey
         WHERE l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                               FROM lineitem_so_v l2
                               WHERE l2.l_partkey = l.l_partkey)
         GROUP BY p.p_brand
         ORDER BY p.p_brand""")
  }

  /** FULL OUTER join: negative-balance customers vs per-customer order
    * counts — nulls surface on both sides.
    */
  def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer").filter(col("c_acctbal") < 0)
      .select(col("c_custkey"), col("c_acctbal"))
    val oa = tbl(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    c.join(oa, c("c_custkey") === oa("o_custkey"), "full_outer")
      .select(coalesce(c("c_custkey"), oa("o_custkey")).as("custkey"),
        col("c_acctbal"), col("n_orders"))
      .orderBy("custkey")
  }

  /** Hopping windows computed BY A REAL STREAMING QUERY — together with
    * the tumbling and session twins, all three event-window types run
    * under Structured Streaming against the same batch oracles. Same
    * update-mode foreachBatch upsert shape as the tumbling twin; each
    * event lands in 2 overlapping 1h windows (30min hop).
    */
  def qEventsStreamHopping(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "events").schema
    val stream = withTsEvent(
      s.readStream.schema(schema).parquet(eventsStreamDir(dir).toString))
      .withWatermark("ts_event", "1 hour")
      .groupBy(window(col("ts_event"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
    val log = streamToDeltaLog(s, stream, "update")
    readDeltaLogUpsert(s, log, stream.schema,
      Seq("window_start_us", "event_type"))
      .orderBy("window_start_us", "event_type")
  }

  /** STREAM-STREAM interval join as a gate query — the fourth real
    * streaming query (after tumbling/hopping/sessions): purchases and
    * views arrive as two independent streams, joined on user within the
    * trailing hour (watermark-bounded state on both sides, see
    * streaming/StreamingEmbed.intervalJoinStreams). Emits the raw match
    * pairs — append mode, no post-join aggregation — and hash-matches
    * the batch inequality-join oracle.
    */
  def qEventsStreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = tbl(s, dir, "events").schema
    def src = withTsEvent(
      s.readStream.schema(schema).parquet(eventsStreamDir(dir).toString))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_event"))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts_event"))
    val joined = graft.streaming.StreamingEmbed
      .intervalJoinStreams(purchases, views, "user_id", "ts_event",
        lookback = "1 hour", watermark = "2 hours")
      .select(col("event_id"),
        col("r_event_id").as("view_event_id"),
        unix_micros(col("r_ts_event")).as("view_ts_us"))
    // append mode: every match is emitted exactly once, so the gate
    // result is simply the delta log's rows (no keyed upsert needed)
    val log = streamToDeltaLog(s, joined, "append")
    readDeltaLog(s, log, joined.schema)
      .select("event_id", "view_event_id", "view_ts_us")
      .orderBy("event_id", "view_event_id")
  }

  /** The deterministic watermark-complete cut shared by the outer-join
    * and chained-stateful gates: min of the purchase/view streams' max
    * event times minus the 2h watermark delay, computed in ONE scan.
    * The 7200000000 (2h in µs) here and the `watermark = "2 hours"`
    * passed to intervalJoinStreams must stay in lockstep.
    *
    * Boundary assumption (deliberate): consumers keep windows with
    * `window_end_us <= wmCut`, relying on Spark finalizing a window
    * exactly when watermark >= window end, with no extra hold-back as
    * the watermark propagates through the upstream interval join. This
    * matches Spark 4.x's multi-stateful watermark simulation; a fixture
    * timestamp landing EXACTLY on a window/watermark boundary, or a
    * future Spark change to propagation slack, would surface here first
    * — if such a gate flips, loosen the cut to strict `<` before
    * suspecting the operators.
    */
  def purchaseViewWmCutUs(s: SparkSession, dir: String): Long = {
    val r = withTsUs(tbl(s, dir, "events"))
      .agg(
        max(when(col("event_type") === "purchase", col("ts_us"))).as("p"),
        max(when(col("event_type") === "view", col("ts_us"))).as("v"))
      .head()
    math.min(r.getLong(0), r.getLong(1)) - 7200000000L
  }

  /** STREAM-STREAM LEFT OUTER interval join — the join type the inner
    * gate can't prove: an unmatched purchase must STILL emit (views
    * NULL) once the watermark passes its one-hour lookback window, and
    * must NOT emit before (a future view could still match). The
    * watermark-complete region is deterministic — min of the two sides'
    * max event times minus the 2h delay — so the gate filters both its
    * own output and the oracle's LEFT JOIN to purchases strictly below
    * that cut: every such purchase has either matched or been
    * null-emitted by the final no-data flush batch AvailableNow runs.
    */
  def qEventsStreamLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "events").schema
    def src = withTsEvent(
      s.readStream.schema(schema).parquet(eventsStreamDir(dir).toString))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_event"))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts_event"))
    val joined = graft.streaming.StreamingEmbed
      .intervalJoinStreams(purchases, views, "user_id", "ts_event",
        lookback = "1 hour", watermark = "2 hours",
        joinType = "left_outer")
      .select(col("event_id"), unix_micros(col("ts_event")).as("ts_us"),
        col("r_event_id").as("view_event_id"),
        unix_micros(col("r_ts_event")).as("view_ts_us"))
    val log = streamToDeltaLog(s, joined, "append")
    val wmCut = purchaseViewWmCutUs(s, dir)
    readDeltaLog(s, log, joined.schema)
      .filter(col("ts_us") < wmCut)
      .select("event_id", "ts_us", "view_event_id", "view_ts_us")
      .orderBy("event_id", "view_event_id")
  }

  /** CHAINED STATEFUL OPERATORS: a stream-stream interval join feeding
    * a downstream event-time window aggregation in ONE streaming query
    * — two stateful exec nodes sharing one watermark timeline (the
    * multi-stateful-operator support added to Structured Streaming in
    * Spark 3.5+). Append mode, so the window agg emits a window only
    * once the propagated watermark finalizes it; the gate keeps the
    * deterministic finalized region (window end ≤ the final
    * watermark) and the oracle replays join + hourly count over it.
    */
  def qEventsStreamJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "events").schema
    def src = withTsEvent(
      s.readStream.schema(schema).parquet(eventsStreamDir(dir).toString))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_event"))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts_event"))
    val joined = graft.streaming.StreamingEmbed
      .intervalJoinStreams(purchases, views, "user_id", "ts_event",
        lookback = "1 hour", watermark = "2 hours")
    val agg = joined
      .groupBy(window(col("ts_event"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        unix_micros(col("window.end")).as("window_end_us"),
        col("n_pairs"))
    val log = streamToDeltaLog(s, agg, "append")
    val wmCut = purchaseViewWmCutUs(s, dir)
    readDeltaLog(s, log, agg.schema)
      .filter(col("window_end_us") <= wmCut)
      .select("window_start_us", "n_pairs")
      .orderBy("window_start_us")
  }

  /** NON-FILE streaming source gate: Spark's deterministic
    * `rate-micro-batch` source replaces the file stream — the canonical
    * stand-in for a Kafka-shaped unbounded feed (same micro-batch
    * planner path; only the source offsets differ), proving the
    * streaming gates' logical-plan-identity claim holds beyond file
    * listings. Exactly 5 batches × 1000 rows; every event column is
    * derived deterministically from `value`, so the DuckDB oracle
    * replays the entire feed with generate_series. The windowed-count
    * transform is the events_stream_tumbling shape: watermark + 1h
    * tumbling window, update-mode deltas into the distributed delta
    * log, gate result = keyed upsert of the log.
    */
  def qRateStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val nBatches = 5L
    val stream = s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "1000")
      .option("numPartitions", "4")
      .load()
      .select(col("value"),
        concat(lit("t"), (col("value") % 5).cast("string"))
          .as("event_type"),
        timestamp_micros(lit(1704067200000000L) + col("value") * 61000000L)
          .as("ts_event"))
      .withWatermark("ts_event", "1 hour")
      .groupBy(window(col("ts_event"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
    val log = scratchTempDir(s, "graft_rate_log")
    val sink = graft.streaming.DeltaLog.appendSink(s, log, identity)
    // The source is unbounded (that is the point), so the drain is
    // count-bounded, not AvailableNow: commit exactly nBatches batches,
    // then a latch hands control back to the driver thread, which stops
    // the query OUTSIDE foreachBatch (an in-sink stop() can deadlock
    // the micro-batch thread against itself).
    val done = new java.util.concurrent.CountDownLatch(1)
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val finished = try {
      val q = stream.writeStream
        .outputMode("update")
        .foreachBatch { (df: DataFrame, id: Long) =>
          if (id < nBatches) sink(df, id) else done.countDown()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try done.await(180, java.util.concurrent.TimeUnit.SECONDS)
      finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
    if (!finished)
      throw new IllegalStateException(
        s"rate stream did not commit $nBatches batches within 180 s")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("window_start_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    readDeltaLogUpsert(s, log, schema, Seq("window_start_us", "event_type"))
      .orderBy("window_start_us", "event_type")
  }

  /** NULL-semantics surface: aggregation null-skipping (count(col) vs
    * count(*)), null-safe equality, NULLIF/COALESCE, and null grouping
    * keys — exercised through the outer join's generated nulls.
    */
  def qNullSemantics(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orders_nonnull"),
        count(when(col("o_orderkey").isNull, 1)).as("n_null"),
        count(when(col("o_orderstatus") <=> lit("F"), 1)).as("n_f_nullsafe"),
        count(nullif(col("o_orderpriority"), lit("1-URGENT")))
          .as("n_not_urgent"),
        min(coalesce(col("o_orderstatus"), lit("~none~"))).as("min_status"))
      .orderBy("c_mktsegment")
  }

  /** Sessionization computed BY A REAL STREAMING QUERY with CUSTOM STATE
    * (streaming/StreamingEmbed.sessionizeStream — flatMapGroupsWithState,
    * O(1) state per user): the streaming twin of `events_sessions`,
    * hash-matched against the SAME DuckDB oracle. Update-mode deltas keyed
    * by (user_id, session_id) land in the distributed delta log; the gate
    * result is its keyed upsert.
    */
  def qEventsStreamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = tbl(s, dir, "events").schema
    val src0 = s.readStream.schema(schema)
      .parquet(eventsStreamDir(dir).toString)
    val stream = src0
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        eventTsUs(src0).cast("long"))
      .as[(Long, Long, Long)]
    val sessions = graft.streaming.StreamingEmbed.sessionizeStream(stream).toDF()
    val log = streamToDeltaLog(s, sessions, "update")
    readDeltaLogUpsert(s, log, sessions.schema,
      Seq("user_id", "session_id"))
      .orderBy("user_id", "session_id")
  }

  /** Deterministic content-hash sampling — the reproducible train/test
    * split primitive for training-data pipelines: membership depends only
    * on the key (md5 first hex char ⇒ a fixed 1/16 slice), never on
    * partitioning, run order, or cluster layout, so the split is stable
    * across reruns and engines — which is exactly why it is
    * oracle-checkable while rand()-based sampling is not.
    */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy("o_orderkey")

  /** MERGE/upsert over immutable storage (ops/Merge.upsert): base
    * snapshot ∪ change set, highest version wins per key — one max_by
    * hash aggregation, no window sort, no self-join. Every 10th order
    * gets a priced-up v2 row; the oracle replays the merge with
    * union + QUALIFY row_number.
    */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        lit(1L).as("version"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("price_cents", col("price_cents") + 500L)
      .withColumn("version", lit(2L))
    graft.ops.Merge.upsert(base, updates, Seq("o_orderkey"), "version")
      .orderBy("o_orderkey")
  }

  /** TF-IDF top-3 terms per document — explode → tf/df aggregations →
    * scalar doc count (broadcast) → rank window. Ordering uses the
    * ROUNDED score so FP last-ulp differences can't flip ranks between
    * engines. The TF table is WRITTEN TO PARQUET and read back: df
    * derives from it, but column pruning specializes the df branch's
    * partial aggregate (dropping the tf count), which defeats AQE
    * exchange reuse and would re-explode the whole corpus. A written
    * table (the materialization every IR stack keeps at 100 TB anyway)
    * pins the expensive explode+aggregate to exactly one execution
    * WITHOUT tying the query's latency to executor storage pressure the
    * way a session-lifetime persist() does — the r3/r4 driver runs saw
    * this query 5-12× its isolated cost purely from accumulated cache.
    * n_docs stays a count-star over the raw table: deriving it from tf
    * would silently drop zero-token documents, and a count-star scan
    * reads only parquet footers.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val tf = writtenTfTable(s, dir)
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val ndocs = tbl(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(ndocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** The (doc_id, word, tf) term-frequency table, MATERIALIZED to parquet
    * and read back — the shared input of qTfidf/qBm25. Each consumer
    * reads it several times (tf/df/doclen branches), and column pruning
    * specializes each branch's partial aggregate, so exchange reuse alone
    * would re-explode the corpus once per branch. A written table (what a
    * 100 TB deployment keeps anyway — the IR-stack materialization) pins
    * the explode+aggregate to one execution WITHOUT session-lifetime
    * executor storage: an in-session persist() here made the query's
    * timing degrade 5-12× under whole-suite cache pressure in the r3/r4
    * driver runs.
    *
    * WRITE-ONCE, not write-per-call: the path is keyed by the tokenizer
    * params AND the source table's file manifest (name/length/mtime via
    * the Hadoop FileSystem — the same O(files) listing the planner does),
    * and the write is skipped when that path's `_SUCCESS` marker exists.
    * Regenerated input data changes the manifest → a fresh key → a fresh
    * build; an interrupted write never leaves `_SUCCESS` behind, so it is
    * retried, never trusted. All paths go through the Hadoop FileSystem
    * of a configurable scratch URI (`spark.graft.scratch` — a shared-FS/
    * object-store URI on a real cluster; java.io.tmpdir covers local
    * mode), NOT java.io.File: a driver-local path is the silent-loss
    * failure mode the delta log (streaming/DeltaLog.scala) documents.
    */
  def writtenTfTable(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val hconf = s.sparkContext.hadoopConfiguration
    val docs = new Path(s"$dir/documents.parquet")
    val manifest = docs.getFileSystem(hconf).listStatus(docs)
      .sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    val sig = s"tf-v2|split:[^a-zA-Z0-9_]+|lower|$dir|$manifest"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val scratch = new Path(s.conf.getOption("spark.graft.scratch")
      .getOrElse(sys.props("java.io.tmpdir")))
    val tfPath = new Path(scratch, s"graft_tf_$key")
    val fs = tfPath.getFileSystem(hconf)
    if (!fs.exists(new Path(tfPath, "_SUCCESS")))
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-zA-Z0-9_]+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(tfPath.toString)
    s.read.parquet(tfPath.toString)
  }

  /** Shared WRITE-ONCE artifact plumbing — the [[writtenTfTable]]
    * contract factored for reuse: the path is keyed by the build
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
    * Ten graph queries (PageRank, shortest path, degree stats, link
    * prediction, triangles, components, label propagation, modularity,
    * assortativity) consume this ONE build as a parquet read instead
    * of each paying the distinct + self-join + distinct — at 100×
    * data the repeated build would dominate every graph query's cost.
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

  /** Batch interval join — the batch twin of the stream-stream interval
    * join (streaming/StreamingEmbed.intervalJoinStreams): each purchase
    * counts the same user's views in the trailing hour. Equi-join on
    * user_id (one keyed shuffle) with the time range as a post-join
    * predicate — the scale-correct plan for bounded-range enrichment.
    */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = withTsUs(tbl(s, dir, "events"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts_us").as("view_ts_us"))
    p.join(v,
        p("user_id") === col("v_user_id") &&
          col("view_ts_us") >= col("ts_us") - 3600L * 1000000L &&
          col("view_ts_us") <= col("ts_us"),
        "left_outer")
      .groupBy(col("event_id"), col("user_id"), col("ts_us"))
      .agg(count(col("view_ts_us")).as("n_views_1h"))
      .orderBy("event_id")
  }

  /** Int8 vector quantization surface (ops/Quantize): per-vector scale +
    * first four quantized components + the quantized self-cosine (≡ 1
    * within quantization error; emitted so the oracle exercises the
    * integer dot-product path too).
    */
  def qVecQuantize(s: SparkSession, dir: String): DataFrame = {
    val q = graft.ops.Quantize.quantize(tbl(s, dir, "embeddings"), "embedding")
    q.select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        col("qvec")(0).cast("int").as("q0"),
        col("qvec")(1).cast("int").as("q1"),
        col("qvec")(2).cast("int").as("q2"),
        col("qvec")(3).cast("int").as("q3"))
      .orderBy("vec_id")
  }

  /** Ordered string aggregation (listagg WITHIN GROUP — deterministic by
    * construction, unlike bare listagg whose concat order is
    * partitioning-dependent).
    */
  def qStringAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("listagg(DISTINCT o_orderstatus, ',') " +
          "WITHIN GROUP (ORDER BY o_orderstatus)").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Stratified deterministic sampling: per-stratum rates (4/16 for 'A',
    * 8/16 for 'N', 2/16 for 'R') decided by a content-hash digit of the
    * unique row key — reproducible across engines/partitionings, counted
    * against stratum totals in one pass (no second scan).
    */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val digit = substring(md5(concat(col("l_orderkey").cast("string"),
      lit("#"), col("l_linenumber").cast("string"))), 1, 1)
    val cutoff = when(col("l_returnflag") === "A", lit("3"))
      .when(col("l_returnflag") === "N", lit("7"))
      .otherwise(lit("1"))
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(when(digit <= cutoff, 1)).as("n_sampled"),
        count(lit(1)).as("n_total"))
      .orderBy("l_returnflag")
  }

  /** JSON scalar surface: construct a JSON document per row, extract
    * typed fields back out (get_json_object path expressions).
    */
  def qJsonFuncs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .withColumn("j",
        concat(lit("{\"size\":"), col("p_size").cast("string"),
          lit(",\"brand\":\""), col("p_brand"), lit("\"}")))
      .select(
        col("p_partkey"),
        get_json_object(col("j"), "$.size").cast("int").as("jsize"),
        get_json_object(col("j"), "$.brand").as("jbrand"))
      .orderBy("p_partkey")

  // ------------------------------------------------------------------
  // Round-3 breadth: melt/cross/set-ALL/grouping flags/lateral surface,
  // feature-prep (normalization, z-score, histogram, gap-fill), text
  // retrieval (bigrams, BM25), PII redaction, streaming dedup gate
  // ------------------------------------------------------------------

  /** UNPIVOT (melt): wide measure columns → long (measure, val) — the
    * standard reshape before per-feature statistics. One narrow Expand,
    * aggregated by (flag, measure) in a single shuffle.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy("l_returnflag", "measure")
      .agg(dsum(col("val")).as("total"), count(lit(1)).as("n"))
      .orderBy("l_returnflag", "measure")

  /** CROSS JOIN surface: the full dim lattice (region × nation, both
    * O(1)-size and broadcastable; a cartesian over SF-scaling tables
    * would be a plan bug, not a feature).
    */
  def qCrossJoin(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "region")
      .crossJoin(broadcast(tbl(s, dir, "nation")))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  /** ROLLUP with GROUPING flags — distinguishes "NULL because subtotal"
    * from "NULL in the data", which plain rollup output cannot.
    */
  def qGroupingFlags(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Multiset set ops: INTERSECT ALL ∪ EXCEPT ALL of two lineitem
    * partkey projections, tagged and re-counted — duplicate-preserving
    * semantics the distinct-based q_setop/q_except cannot express.
    */
  def qSetopAll(s: SparkSession, dir: String): DataFrame = {
    val a = tbl(s, dir, "lineitem").filter(col("l_quantity") < 25)
      .select(col("l_partkey").as("partkey"))
    val b = tbl(s, dir, "lineitem").filter(col("l_discount") > 0.03)
      .select(col("l_partkey").as("partkey"))
    a.intersectAll(b).withColumn("op", lit("intersect_all"))
      .unionAll(a.exceptAll(b).withColumn("op", lit("except_all")))
      .groupBy("op", "partkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("op", "partkey")
  }

  /** LATERAL correlated subquery with LIMIT through the SQL front-end:
    * top-2 orders per priority class — the decorrelated plan is a
    * ranked window + filter, not a per-row re-scan.
    */
  def qLateralTopk(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT p.o_orderpriority, t.o_orderkey, t.o_totalprice
         FROM (SELECT DISTINCT o_orderpriority FROM orders_v) p,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders_v o
                  WHERE o.o_orderpriority = p.o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY p.o_orderpriority, t.o_orderkey""")
  }

  /** Window frame breadth: forward-fill (LAST_VALUE IGNORE NULLS over a
    * trailing frame) + per-partition first value — the canonical
    * sparse-to-dense feature repair. Prices are nulled deterministically
    * (orderkey % 3) so both engines fill the same holes.
    */
  def qFirstLast(s: SparkSession, dir: String): DataFrame = {
    val priceN = when(col("o_orderkey") % 3 === 0, lit(null))
      .otherwise(col("o_totalprice"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    tbl(s, dir, "orders")
      .withColumn("price_n", priceN)
      .select(
        col("o_custkey"), col("o_orderkey"),
        last(col("price_n"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("price_filled"),
        first(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing))
          .as("first_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Fixed-width histogram (the distributed sibling of width_bucket):
    * integer bucket arithmetic, one hash aggregation, no sort until the
    * final O(#buckets) output.
    */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .groupBy(least(floor(col("o_totalprice") / 25000.0), lit(19.0))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("bucket")

  /** Min-max feature normalization per segment via window min/max — no
    * second scan, no driver round-trip.
    */
  def qMinmaxNorm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
    val mn = min(col("c_acctbal")).over(w)
    val mx = max(col("c_acctbal")).over(w)
    tbl(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        // (x-min)/(max-min) of 2dp currency lands ON .5 ties at 6dp
        // whenever the range divides the offset — rndDet readout
        when(mx === mn, lit(0.5))
          .otherwise(rndDet((col("c_acctbal") - mn) / (mx - mn), 6))
          .as("acctbal_mm"))
      .orderBy("c_custkey")
  }

  /** Z-score standardization + outlier flag. Moments are accumulated as
    * exact decimal sums (associativity-proof) in ONE pass, broadcast back
    * — identical arithmetic in the oracle, so no FP-boundary flakiness,
    * unlike engine-native stddev (Welford vs sum-of-squares differ in
    * ulps between engines).
    */
  def qZscore(s: SparkSession, dir: String): DataFrame = {
    val stats = tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("s1"),
        dsum(col("l_quantity") * col("l_quantity")).as("s2"),
        count(lit(1)).cast("double").as("cnt"))
    val mean = col("s1") / col("cnt")
    val sd = sqrt(col("s2") / col("cnt") - mean * mean)
    tbl(s, dir, "lineitem")
      .join(broadcast(stats), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round((col("l_quantity") - mean) / sd, 6).as("z"))
      .withColumn("is_outlier", abs(col("z")) > 2.0)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Word-bigram top-k over the corpus (n-gram surface: element_at is
    * 1-indexed in both engines, so the oracle is index-for-index
    * identical). Single explode → one aggregation → TakeOrdered.
    */
  def qNgramBigrams(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(expr(tokensSql).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
             i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"""))
        .as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  /** PMI-scored COLLOCATIONS (statistically-bound word pairs — the
    * classic phrase-mining signal for tokenizer vocab curation and
    * boilerplate detection). Probabilities all come from the bigram
    * stream: PMI(x,y) = ln(c_xy·N / (c_x·· c_·y)). Scale shape: ONE
    * corpus explode into the (x,y) count exchange; the left/right
    * marginals and the total re-aggregate that same subplan, so
    * exchange reuse prices the corpus scan once and everything
    * downstream is vocab-sized, never corpus-sized. All counts are
    * integers, the PMI arithmetic is a fixed double expression over
    * them, and rows order by the ROUNDED score — partitioning cannot
    * flip the result.
    */
  def qCollocations(s: SparkSession, dir: String): DataFrame = {
    val bc = tbl(s, dir, "documents")
      .select(expr(tokensSql).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
             i -> named_struct('x', element_at(ws, i),
                               'y', element_at(ws, i + 1)))"""))
        .as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      // one corpus explode; 3 vocab-sized re-aggregations. Cache is
      // bigram-vocab-sized (never corpus-sized) and session-lifetime:
      // the lazy return leaves no unpersist point (qPerplexity contract)
      .persist()
    val lc = bc.groupBy("x").agg(sum("c").as("cx"))
    val rc = bc.groupBy("y").agg(sum("c").as("cy"))
    val tot = bc.agg(sum("c").as("nn"))
    bc.join(lc, "x").join(rc, "y").crossJoin(broadcast(tot))
      .filter(col("c") >= 5)
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("c").as("n"),
        round(log(col("c").cast("double") * col("nn").cast("double") /
          (col("cx").cast("double") * col("cy").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(30)
  }

  /** Feature SQL for the trainable quality classifier — one string,
    * valid and IDENTICAL in both dialects (every literal is CAST to
    * DOUBLE so neither engine routes through its own decimal-promotion
    * rules; all features are integer-derived ratios, so both engines
    * compute identical doubles).
    */
  val qcFeatures: Seq[(String, String)] =
    Seq(
      "f0" -> "CAST(1.0 AS DOUBLE)",
      "f1" -> "CAST(n_chars AS DOUBLE) / CAST(100.0 AS DOUBLE)",
      "f2" -> ("CAST(10.0 AS DOUBLE) * CAST(length(text) - " +
        "length(replace(text, 'data', '')) AS DOUBLE) / CAST(4.0 AS DOUBLE)" +
        " / CAST(n_chars AS DOUBLE)"),
      "f3" -> ("CAST(10.0 AS DOUBLE) * CAST(length(text) - " +
        "length(replace(text, 'spark', '')) AS DOUBLE) / CAST(5.0 AS DOUBLE)" +
        " / CAST(n_chars AS DOUBLE)"),
      "f4" -> ("CAST(10.0 AS DOUBLE) * CAST(length(text) - " +
        "length(replace(text, ' ', '')) AS DOUBLE) / CAST(n_chars AS DOUBLE)"),
      "f5" -> ("CAST(100.0 AS DOUBLE) * CAST(length(text) - " +
        "length(replace(text, ' the ', '')) AS DOUBLE) / CAST(5.0 AS DOUBLE)" +
        " / CAST(n_chars AS DOUBLE)"))

  val qcLabelSql =
    "CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) " +
      "ELSE CAST(0.0 AS DOUBLE) END"

  /** TRAINABLE QUALITY CLASSIFIER (the model-based curation filter —
    * fastText-shaped: cheap surface features, linear model): 3 batch-GD
    * iterations of [[graft.ops.LogReg]] predicting `lang = 'en'` from
    * six integer-derived text ratios on the doc_id %% 5 ≠ 0 slice. The
    * training TRAJECTORY is deterministic (9-dp decimal-quantized
    * gradients and weights), so the fitted weights themselves are the
    * gate output and the DuckDB twin re-trains the same model as three
    * unrolled gradient/weight CTE pairs and must hash-match. Loss
    * decrease and holdout sanity are OpsSpec's job.
    */
  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = qcFeatures
    val df = tbl(s, dir, "documents").filter("doc_id % 5 <> 0")
      .select(expr(qcLabelSql).as("y") +:
        feats.map { case (n, e) => expr(e).as(n) }: _*)
    val w = graft.ops.LogReg.train(
      df, "y", feats.map(_._1), iters = 3, lr = 0.5)
    s.createDataset(feats.map(_._1).zip(w)).toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
      .orderBy("feature")
  }

  /** CORPUS DRIFT MONITOR: add-1-smoothed unigram KL(P‖Q) between the
    * even- and odd-doc_id halves of the corpus (stand-ins for two crawl
    * snapshots), reported as the top tokens by divergence contribution
    * p(w)·ln(p(w)/q(w)) — the distribution-shift alarm a pipeline runs
    * between ingestion batches before retraining decisions. Shape: one
    * corpus explode → one (token, side) count aggregate → vocab-sized
    * math; totals ride a broadcast 1-row side. Contributions are
    * integer-count-derived doubles rounded at 9 dp (the repo-wide
    * cross-engine determinism contract), ordered by the rounded score.
    */
  def qCorpusDrift(s: SparkSession, dir: String): DataFrame = {
    val cnt = tbl(s, dir, "documents")
      .select((col("doc_id") % 2 === 0).as("in_p"),
        explode(expr(tokensSql)).as("w"))
      .groupBy("w")
      .agg(sum(when(col("in_p"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("in_p"), 0L).otherwise(1L)).as("cq"))
      // one corpus explode; totals + scores reuse it. Vocab-sized,
      // session-lifetime cache (qPerplexity contract: no unpersist point)
      .persist()
    val tot = cnt.agg(sum("cp").as("tp"), sum("cq").as("tq"),
      count(lit(1)).as("v"))
    cnt.crossJoin(broadcast(tot))
      .select(col("w"), col("cp"), col("cq"),
        round(expr(
          """((CAST(cp AS DOUBLE) + 1.0) / (CAST(tp AS DOUBLE) + CAST(v AS DOUBLE)))
             * ln(((CAST(cp AS DOUBLE) + 1.0) / (CAST(tp AS DOUBLE) + CAST(v AS DOUBLE)))
               / ((CAST(cq AS DOUBLE) + 1.0) / (CAST(tq AS DOUBLE) + CAST(v AS DOUBLE))))"""),
          9).as("kl_term"))
      .orderBy(col("kl_term").desc, col("w"))
      .limit(15)
  }

  /** Native GENERATOR surface: `LATERAL VIEW graft_shingles(text, 3)`
    * streams word-trigram FNV hashes as rows (functions/WordShingles) —
    * no per-document hash array is ever materialized. Per-doc shingle
    * totals and distinct counts; docs with fewer than 3 words emit no
    * rows (inner generator semantics), which the oracle mirrors.
    */
  def qShingleGen(s: SparkSession, dir: String): DataFrame = {
    graft.functions.WordShingles.register(s)
    tbl(s, dir, "documents").createOrReplaceTempView("docs_shingle_v")
    s.sql(
      """SELECT doc_id, COUNT(*) AS n_shingles,
           COUNT(DISTINCT shingle_hash) AS n_distinct
         FROM docs_shingle_v
         LATERAL VIEW graft_shingles(text, 3) t AS pos, shingle_hash
         GROUP BY doc_id ORDER BY doc_id""")
  }

  /** POPULATION STABILITY INDEX between two corpus slices over length
    * bins — the standard "did the distribution move?" monitor (PSI >
    * 0.2 conventionally blocks a release). Fixed-width bins (100 chars,
    * capped at 10), add-0.5 smoothing so empty bins stay finite,
    * per-bin contribution (pa−pb)·ln(pa/pb) rounded 9dp like the KL
    * monitor. One scan, #bins-row everything after.
    */
  def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
      .select((col("doc_id") % 2 === 0).as("in_a"),
        least(floor(col("n_chars") / 100.0), lit(9.0)).cast("int")
          .as("bin"))
    val cnt = d.groupBy("bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("cb"))
    val tot = cnt.agg(sum("ca").as("ta"), sum("cb").as("tb"),
      count(lit(1)).as("nb"))
    cnt.crossJoin(broadcast(tot))
      .select(col("bin"), col("ca"), col("cb"),
        round(expr(
          """((CAST(ca AS DOUBLE)+0.5)/(CAST(ta AS DOUBLE)+0.5*CAST(nb AS DOUBLE))
              - (CAST(cb AS DOUBLE)+0.5)/(CAST(tb AS DOUBLE)+0.5*CAST(nb AS DOUBLE)))
             * ln(((CAST(ca AS DOUBLE)+0.5)/(CAST(ta AS DOUBLE)+0.5*CAST(nb AS DOUBLE)))
               / ((CAST(cb AS DOUBLE)+0.5)/(CAST(tb AS DOUBLE)+0.5*CAST(nb AS DOUBLE))))"""),
          9).as("psi_term"))
      .orderBy("bin")
  }

  /** EMBEDDING-CENTROID DRIFT per label between two corpus slices: the
    * cosine between each label's slice-A and slice-B centroids — the
    * representation-space sibling of [[qPsiDrift]] (a cosine well below
    * 1 means the label's embedding distribution moved). Per-dim means
    * accumulate as exact DECIMAL (the q_embed_dim_stats contract), so
    * the 64-value centroid pairs are engine-identical before the final
    * rounded cosine.
    */
  def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val x = tbl(s, dir, "embeddings")
      .select(col("label"), (col("vec_id") % 2 === 0).as("in_a"),
        posexplode(col("embedding")).as(Seq("dim", "ef")))
      .select(col("label"), col("in_a"), col("dim"),
        col("ef").cast("double").as("e"))
    val m = x.groupBy("label", "dim")
      .agg(
        (sum(when(col("in_a"), col("e").cast("decimal(28,12)")))
          .cast("double") /
          sum(when(col("in_a"), 1L).otherwise(0L))).as("ma"),
        (sum(when(!col("in_a"), col("e").cast("decimal(28,12)")))
          .cast("double") /
          sum(when(!col("in_a"), 1L).otherwise(0L))).as("mb"))
    m.groupBy("label")
      .agg(
        sum((col("ma") * col("mb")).cast("decimal(28,12)")).as("dot"),
        sum((col("ma") * col("ma")).cast("decimal(28,12)")).as("na"),
        sum((col("mb") * col("mb")).cast("decimal(28,12)")).as("nb"))
      .select(col("label"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double"))), 6).as("centroid_cosine"))
      .orderBy("label")
  }

  /** ROBUST OUTLIER FLAGGING (median absolute deviation): per-source
    * document-length outliers by robust z = (x − median)/MAD — the
    * curation filter that survives the heavy-tailed length
    * distributions that break mean/stddev z-scores. Two grouped exact
    * percentile passes (median, then MAD over |x − median|) + a join
    * back; group count is source-sized, so everything after the first
    * aggregate is tiny. Exact interpolated percentiles over integers
    * are engine-identical (the q_percentiles contract), so the DuckDB
    * twin hash-matches.
    */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val med = d.groupBy("source")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val dev = d.join(med, "source")
      .select(col("source"), col("doc_id"), col("n_chars"), col("med"),
        abs(col("n_chars") - col("med")).as("adev"))
    val mad = dev.groupBy("source")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, "source")
      .filter(col("mad") > 0)
      .select(col("source"), col("doc_id"), col("n_chars"),
        round((col("n_chars") - col("med")) / col("mad"), 6).as("robust_z"))
      .filter(abs(col("robust_z")) > lit(2.5))
      .orderBy("source", "doc_id")
  }

  /** PAGERANK over the co-supplier graph (suppliers connected when they
    * supply the same part — distinct pairs, so the per-part fan-out is
    * bounded by suppliers-per-part, a small constant in this schema; a
    * co-occurrence graph with unbounded key cardinality would cap per
    * key first). Five synchronous iterations of
    * [[graft.ops.PageRank.ranks]], whose DECIMAL(28,12) state encoding
    * makes every iteration's ranks byte-identical under any
    * partitioning — the DuckDB twin replays the same five iterations
    * as unrolled CTEs and must hash-match exactly. Top-20 by rounded
    * rank. Depth 5 (up from 3) makes the per-iteration checkpoint's
    * lineage-truncation cost visible in the bench row.
    */
  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    // The unrestricted co-supplier graph is COMPLETE at these SFs
    // (uniform ranks — a vacuous fixture); the low-quantity slice is
    // sparse and irregular (degrees vary ~4×), so ranks genuinely
    // separate and the oracle check has teeth.
    val edges = writtenEdgesTable(s, dir)
    graft.ops.PageRank.ranks(edges, "src", "dst", iters = 5)
      .select(col("node").as("suppkey"),
        round(col("r").cast("double"), 8).as("pr"))
      .orderBy(col("pr").desc, col("suppkey"))
      .limit(20)
  }

  /** PERSONALIZED PageRank over the co-supplier artifact: teleport
    * mass lands only on the seed set (suppkey % 10 == 0), ranking the
    * graph BY PROXIMITY TO THOSE SEEDS — the related-item/local-
    * community primitive vanilla PageRank cannot express. Same exact
    * DECIMAL(28,12) re-quantized iterations as q_pagerank
    * ([[graft.ops.PageRank.personalizedRanks]]); the DuckDB twin
    * unrolls the 4 iterations with the seed-indicator base term.
    */
  def qPpr(s: SparkSession, dir: String): DataFrame = {
    val edges = writtenEdgesTable(s, dir)
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .filter(col("node") % 10 === 0)
    graft.ops.PageRank.personalizedRanks(edges, "src", "dst", seeds,
        iters = 4)
      .select(col("node").as("suppkey"),
        round(col("r").cast("double"), 8).as("ppr"))
      .orderBy(col("ppr").desc, col("suppkey"))
      .limit(20)
  }

  /** Harmonic centrality at radius 2 (exact): H₂(u) = |N₁(u)| +
    * |N₂(u)|/2 over the co-supplier artifact — two self-joins and an
    * adjacency anti-join, NO iteration and no n×n state (the bounded-
    * radius contract of q_kcore/q_shortest_path: radius is the knob
    * that keeps multi-source distance work linear in edges at 100 TB).
    * Halves are exact doubles, so the score is engine-stable without
    * rounding.
    */
  def qHarmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    val e = writtenEdgesTable(s, dir) // directed symmetric, deduped
    val n1 = e.groupBy(col("src")).agg(count(lit(1)).as("n1"))
    val two = e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
      .filter(col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("u"), col("b.dst").as("w"))
      .distinct()
      .join(e.select(col("src").as("u"), col("dst").as("w")),
        Seq("u", "w"), "left_anti")
    val n2 = two.groupBy(col("u")).agg(count(lit(1)).as("n2"))
    n1.join(n2, n1("src") === n2("u"), "left_outer")
      .select(col("src").as("suppkey"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        (col("n1").cast("double")
          + coalesce(col("n2"), lit(0L)).cast("double") * 0.5)
          .as("harmonic"))
      .orderBy(col("harmonic").desc, col("suppkey"))
      .limit(20)
  }

  /** Adamic–Adar link prediction over the co-supplier artifact: for
    * non-adjacent pairs (u < w), score = Σ over common neighbors v of
    * 1/ln(deg v) — the inverse-log weighting that makes rare shared
    * neighbors count more than hubs (q_link_predict's common-neighbor
    * count, upgraded). Terms are rounded to 9 dp and summed as exact
    * DECIMAL (the libm recipe), so the ranking is engine-stable;
    * degree-1 common neighbors are excluded (ln 1 = 0 — and a degree-1
    * node cannot be a COMMON neighbor of two others in a simple graph
    * anyway, so the filter is vacuous-but-explicit).
    */
  def qAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    val e = writtenEdgesTable(s, dir)
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val pairs = e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
      .filter(col("a.src") < col("b.dst"))
      .select(col("a.src").as("u"), col("a.dst").as("v"),
        col("b.dst").as("w"))
      .join(e.select(col("src").as("u"), col("dst").as("w")),
        Seq("u", "w"), "left_anti")
    pairs.join(deg, "v")
      .filter(col("deg") >= 2)
      .select(col("u"), col("w"),
        expr("CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9) " +
          "AS DECIMAL(18,9))").as("term"))
      .groupBy("u", "w")
      .agg(round(sum(col("term")).cast("double"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("w"))
      .limit(20)
  }

  /** CDF DELTA APPLICATION — the change feed's reason to exist: the
    * drained `readChangeFeed` rows of [[writtenCdfTable]] (which
    * crosses a mergeFull AND a compact) are folded with signed weights
    * (+1 insert/update_postimage, −1 delete/update_preimage) into
    * per-language totals that must equal the FINAL SNAPSHOT's plain
    * aggregate — the incremental-view-maintenance identity. A missed
    * change row, a double-delivered rewrite, or compact leakage all
    * break the signed sums.
    */
  def qCdfIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val root = writtenCdfTable(s, dir)
    val out = scratchTempDir(s, "graft_cdf_incr_out")
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .option("readChangeFeed", "true")
      .load(root)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
    s.read.parquet(out)
      .groupBy("lang")
      .agg(sum(sign).as("n"), sum(sign * col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SENTENCE-LEVEL EXACT DEDUP (the CCNet line-dedup shape): split
    * every document on '. ', normalize (lower/trim), and keep only the
    * GLOBAL first occurrence of each sentence (ordered by doc_id then
    * position) — per source, the total/kept/dup-rate report. One
    * sentence-keyed shuffle over the exploded corpus (the span-dedup
    * C4 shape — dedup work is inherently keyed on the content hash,
    * never all-pairs), then counts-sized aggregation.
    */
  def qSentenceDedup(s: SparkSession, dir: String): DataFrame = {
    val sents = tbl(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        posexplode(split(lower(col("text")), "\\. ")).as(Seq("pos", "sent")))
      .withColumn("sent", trim(col("sent")))
      .filter(length(col("sent")) > 0)
    // First-occurrence keep WITHOUT a sentence-keyed window: a
    // row_number() over partitionBy(sent) puts every copy of a
    // boilerplate sentence through ONE WindowExec sort partition that
    // AQE cannot split (10⁹ copies of "all rights reserved." = one
    // executor's sort). min(struct(doc_id, pos, source)) computes the
    // same keeper — (doc_id, pos) is unique per exploded row, so the
    // struct min IS the first occurrence and carries its source — with
    // MAP-SIDE partial aggregation: the hot key collapses to one row
    // per map task before the shuffle (the r11 VERDICT de-skew).
    val keepers = sents
      .groupBy("sent")
      .agg(min(struct(col("doc_id"), col("pos"), col("source"))).as("m"))
      .groupBy(col("m.source").as("source"))
      .agg(count(lit(1)).as("n_kept"))
    sents.groupBy("source")
      .agg(count(lit(1)).as("n_sentences"))
      .join(keepers, Seq("source"), "left")
      .select(col("source"), col("n_sentences"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .select(col("source"), col("n_sentences"), col("n_kept"),
        // count-ratio readout: rndDet, not round (tie determinism)
        rndDet(lit(1.0) - col("n_kept").cast("double")
          / col("n_sentences").cast("double"), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** BM25 (k1=1.2, b=0.75) top-3 terms per document — the retrieval-
    * grade sibling of q_tfidf. tf/df/doclen/avgdl all derive from the
    * WRITTEN tf table ([[writtenTfTable]] — column pruning specializes
    * each consumer's partial aggregate, so exchange reuse alone would
    * re-explode the corpus once per consumer; the written table pins the
    * explode+aggregate to one execution without session-lifetime cache
    * pressure). Ranks order by the ROUNDED score so libm ulp differences
    * cannot flip rows.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val tf = writtenTfTable(s, dir)
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val ndocs = tbl(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val avgdl = dl.agg((sum(col("dl")).cast("double") /
      count(lit(1))).as("avgdl"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    // literal structure mirrors the oracle exactly: (1.2 + 1.0) and
    // (0.25 + 0.75·dl/avgdl) fold to the same IEEE doubles in both engines
    val score = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("bm25").desc, col("word"))
    // dl (one 16-byte row per doc), ndocs and avgdl (1 row each) are the
    // small derived sides — broadcast all three so the word-keyed dfreq
    // join is the ONLY shuffle in the plan (at corpus scales where the
    // doc-length table outgrows broadcast, bucket tf by doc_id instead)
    tf.join(dfreq, "word")
      .join(broadcast(dl), "doc_id")
      .crossJoin(broadcast(ndocs))
      .crossJoin(broadcast(avgdl))
      .withColumn("bm25", round(score, 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("bm25"))
      .orderBy("doc_id", "rk")
  }

  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+[0-9][0-9-]{7,}"

  /** PII redaction (training-data hygiene): detect + mask emails/phones
    * with pure codegen'd regexp expressions. Deterministic synthetic PII
    * is injected per doc so the oracle sees identical inputs.
    */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .withColumn("t",
        concat(lit("contact user"), col("doc_id"), lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" "),
          col("text")))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phones"),
        length(regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("redacted_len"))
      .orderBy("doc_id")

  /** Unicode normalization gate (functions/UnicodeNorm — the native
    * codegen'd normalizer): accent the ASCII corpus deterministically
    * (vowels → precomposed accented forms, plus an appended DECOMPOSED
    * e + U+0301 pair), then NFC-compose and accent-strip. NFC must
    * shrink the decomposed pair to one codepoint and stripping must
    * invert the accenting exactly — both emitted as checked columns so
    * a divergence from DuckDB's utf8proc semantics fails the hash gate
    * loudly. Narrow whole-stage-codegen projection; the scan is the
    * plan.
    */
  def qUnicodeNorm(s: SparkSession, dir: String): DataFrame = {
    graft.functions.UnicodeNormalize.register(s)
    import graft.functions.UnicodeNormalize.{normalize, stripAccents}
    tbl(s, dir, "documents")
      .withColumn("base", substring(col("text"), 1, 40))
      .withColumn("raw", concat(
        // vowels -> precomposed a-grave e-acute i-circ o-uml u-uml;
        // the suffix is a DECOMPOSED e + U+0301 that NFC must fuse
        translate(col("base"), "aeiou",
          "\u00e0\u00e9\u00ee\u00f6\u00fc"),
        lit(" e\u0301clat")))
      .select(
        col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(normalize(col("raw"), "NFC")).cast("long").as("n_nfc"),
        normalize(col("raw"), "NFC").as("text_nfc"),
        stripAccents(col("raw")).as("text_stripped"),
        (stripAccents(col("raw")) === concat(col("base"), lit(" eclat")))
          .as("strip_inverts"))
      .orderBy("doc_id")
  }

  /** Incremental aggregate maintenance gate (ops/IncrementalAgg): the
    * corpus arrives as three disjoint batches, each merged into a
    * bucket-partitioned per-source stats state in O(batch) work; the
    * final state must equal the oracle's one-shot full aggregation.
    * The state dir is manifest-keyed under `spark.graft.scratch` (the
    * writtenTfTable pattern) and rebuilt per invocation — the gate
    * times the maintenance path itself, not a cache hit.
    */
  def qIncrStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val hconf = s.sparkContext.hadoopConfiguration
    val docs = new Path(s"$dir/documents.parquet")
    val manifest = docs.getFileSystem(hconf).listStatus(docs)
      .sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"incrstats-v1|$dir|$manifest"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val scratch = new Path(s.conf.getOption("spark.graft.scratch")
      .getOrElse(sys.props("java.io.tmpdir")))
    val path = new Path(scratch, s"graft_incrstats_$key")
    path.getFileSystem(hconf).delete(path, true)
    val d = tbl(s, dir, "documents")
    (0 until 3).foreach { b =>
      graft.ops.IncrementalAgg.update(
        d.filter(pmod(col("doc_id"), lit(3)) === b),
        "source", "n_chars", path.toString, nBuckets = 8)
    }
    graft.ops.IncrementalAgg.read(s, path.toString).orderBy("key")
  }

  /** Event-time gap fill: dense hourly (event_type × hour) grid with
    * zero counts for silent hours — integer µs bucket arithmetic end to
    * end, so rows are exact. The grid is built distributed
    * (sequence+explode over the broadcast bounds), never on the driver.
    */
  def qGapfill(s: SparkSession, dir: String): DataFrame = {
    val ev0 = tbl(s, dir, "events")
    val tsUs = eventTsUs(ev0)
    val hourUs = (tsUs - pmod(tsUs, lit(3600000000L))).as("hour_us")
    val ev = ev0.select(col("event_type"), hourUs)
    val counts = ev.groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw"))
    // gaps-and-islands dense fill: each observed hour emits its own span
    // up to the next observed hour (the first row also covers back to
    // the global lo) — no grid⟕counts join, ONE raw scan. Global lo/hi
    // arrive as a broadcast 1-row join, not an unpartitioned window, so
    // no stage funnels all rows through a single task. The always-true
    // filter on the aggregated count blocks Catalyst's agg-collapse
    // rewrite (min/max of a grouping key would otherwise be pushed to a
    // second raw scan), pinning bounds to the counts subtree so the
    // physical planner reuses its exchange instead of re-reading events.
    val wType = Window.partitionBy("event_type").orderBy("hour_us")
    val bounds = counts.filter(col("n_raw") > 0)
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
    counts
      .crossJoin(broadcast(bounds))
      .withColumn("nxt", lead(col("hour_us"), 1).over(wType))
      .withColumn("prv", lag(col("hour_us"), 1).over(wType))
      .select(col("event_type"), col("hour_us"), col("n_raw"),
        explode(expr(
          """sequence(
               CASE WHEN prv IS NULL THEN lo ELSE hour_us END,
               CASE WHEN nxt IS NULL THEN hi ELSE nxt - 3600000000 END,
               3600000000)""")).as("h"))
      .select(col("event_type"), col("h").as("hour_us"),
        when(col("h") === col("hour_us"), col("n_raw")).otherwise(lit(0L))
          .as("n"))
      .orderBy("event_type", "hour_us")
  }

  /** Ordered funnel (signup → view → click → purchase): each stage's
    * first timestamp must follow the previous stage's. Four keyed
    * aggregations on the SAME user_id partitioning (AQE reuses the
    * exchange) — never a per-user driver loop.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev0 = tbl(s, dir, "events")
    val ev = ev0
      .select(col("user_id"), col("event_type"), eventTsUs(ev0).as("ts_us"))
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    def nextStage(prev: DataFrame, prevCol: String, etype: String,
        outCol: String): DataFrame =
      ev.filter(col("event_type") === etype)
        .join(prev, "user_id")
        .filter(col("ts_us") > col(prevCol))
        .groupBy("user_id").agg(min(col("ts_us")).as(outCol))
    val t2 = nextStage(t1, "t1", "view", "t2")
    val t3 = nextStage(t2, "t2", "click", "t3")
    val t4 = nextStage(t3, "t3", "purchase", "t4")
    Seq(("1_signup", t1), ("2_view", t2), ("3_click", t3), ("4_purchase", t4))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).withColumn("step", lit(name))
      }
      .reduce(_.unionAll(_))
      .select(col("step"), col("n_users"))
      .orderBy("step")
  }

  /** Cohort retention: users grouped by first-seen day, counted per
    * day-offset in which they were active — pure integer day math, two
    * aggregations, one join on user_id.
    */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    // integer DIV end to end — double division then cast could mis-round
    // at day boundaries
    val ev = withTsUs(tbl(s, dir, "events"))
      .select(col("user_id"),
        expr("ts_us DIV 86400000000").as("day"))
    // cohort_day via a window over the distinct (user, day) set — min
    // over distinct days == min over raw events, and unlike a self-join
    // the plan is a single linear pipeline: ONE scan, no dual-consumed
    // subtree to rely on runtime exchange reuse for
    val wUser = Window.partitionBy("user_id")
    ev.distinct()
      .withColumn("cohort_day", min(col("day")).over(wUser))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "offset_days")
  }

  /** Dedup keep-BEST (argmax), not keep-first: normalize content
    * (lowercase, letters only), group by the normalized key, keep the
    * highest-quality doc per group via a ranked window — the shape every
    * corpus dedup uses when replicas differ in quality.
    */
  def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val normKey = md5(regexp_replace(lower(col("text")), "[^a-z]", ""))
    val w = Window.partitionBy(col("norm_key"))
      .orderBy(col("quality").desc, col("doc_id"))
    tbl(s, dir, "documents")
      .select(col("doc_id"), normKey.as("norm_key"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("quality"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy(col("norm_key"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("norm_key"), col("n_dups"), col("quality"))
      .orderBy("doc_id")
  }

  /** NOT IN with NULL semantics — the null-aware anti-join: one NULL in
    * the subquery list makes every non-match UNKNOWN (filtered), so
    * n_with_null is 0 while n_no_null counts order-less customers.
    */
  def qNotInNull(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "customer").createOrReplaceTempView("customer_v")
    tbl(s, dir, "orders").createOrReplaceTempView("orders_nn_v")
    s.sql(
      """SELECT
           (SELECT COUNT(*) FROM customer_v
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_nn_v))
             AS n_no_null,
           (SELECT COUNT(*) FROM customer_v
            WHERE c_custkey NOT IN
              (SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
                           ELSE o_custkey END FROM orders_nn_v))
             AS n_with_null""")
  }

  /** Discrete percentiles (PERCENTILE_DISC WITHIN GROUP): returns actual
    * data values, so the hash compare is exact — no interpolation.
    */
  def qPercentileDisc(s: SparkSession, dir: String): DataFrame = {
    // fanout (r17, guide §2.5): percentile_disc's partial aggregate
    // BUFFERS every value — on the single-split fixture the whole
    // collect ran as one task; fanned out, 32 partial buffers merge
    // into the 3 groups (same values, same discrete percentiles)
    fanout(tbl(s, dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice"))
      .createOrReplaceTempView("lineitem_pd_v")
    s.sql(
      """SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
             AS med_qty_disc,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
             AS p90_price_disc
         FROM lineitem_pd_v GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** Native SESSION WINDOWS (session_window built-in) — the third
    * independent implementation of 30-min-gap sessionization next to the
    * batch lag+flag-sum (`events_sessions`) and the custom-state
    * streaming fold (`events_stream_sessions`), all checked against the
    * same DuckDB truth shape. Session end = last event + gap by
    * definition of session_window.
    */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    withTsEvent(tbl(s, dir, "events"))
      .groupBy(col("user_id"), session_window(col("ts_event"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  /** supplier ⋈ nation ⋈ region rollup — exercises the last otherwise
    * untouched base table; every dim is O(1)-size and broadcast.
    */
  def qSupplierStats(s: SparkSession, dir: String): DataFrame = {
    val sup = tbl(s, dir, "supplier")
    val n = tbl(s, dir, "nation")
    val r = tbl(s, dir, "region")
    sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        dsum(col("s_acctbal")).as("total_acctbal"),
        min(col("s_name")).as("first_supplier"))
      .orderBy("r_name")
  }

  /** JSON payload column on the events stream table: extract the typed
    * field from `props` and aggregate — the semi-structured ingestion
    * shape (get_json_object is codegen'd; no UDF).
    */
  def qPropsJson(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Sequence packing (training-batch prep): assign each doc to the
    * fixed-budget (2048-token) pack where its concatenation offset
    * starts — the concatenate-then-chunk packing LLM pipelines use.
    * Packing is per shard (doc_id mod 16), so the cumulative-offset
    * window parallelizes across shards; integer div/mod math end to end
    * keeps both engines exact.
    */
  def qSeqPacking(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 16).as("shard"),
        expr("(length(text) + 3) div 4").cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("pack_id", expr("(cum - tok) div 2048").cast("long"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("toks"))
      .orderBy("shard", "pack_id")
  }

  /** Token-budget sampling (corpus mixing): per domain shard, admit docs
    * in a deterministic priority order (shortest first, id tiebreak)
    * until the running token total crosses a 20k budget — the "fill each
    * mixture bucket to its token share" curation op. One keyed window
    * per domain, fully parallel across domains.
    */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("domain").orderBy("tok", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("domain"),
        expr("(length(text) + 3) div 4").cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .filter(col("cum") <= 20000)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), max(col("cum")).as("used_tokens"),
        max(col("tok")).as("max_doc_tokens"))
      .orderBy("domain")
  }

  /** Schema-evolution union (unionByName + allowMissingColumns): two
    * ingest generations with different column sets — the old batch
    * lacks `value`, the new batch lacks `props` — align by NAME with
    * nulls for absent columns, never by position.
    */
  def qUnionByName(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
    val oldGen = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"), col("props"))
    val newGen = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("value"))
    oldGen.unionByName(newGen, allowMissingColumns = true)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("props")).as("n_props"),
        count(col("value")).as("n_value"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  /** VARIANT column (Spark 4 semi-structured type): parse the JSON
    * payload ONCE into the binary variant encoding, then do all field
    * access via variant_get — the open-schema ingestion shape (vs
    * q_props_json's per-path string re-parsing). Missing paths surface
    * as NULLs, counted per type.
    */
  def qVariant(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"),
        expr("variant_get(v, '$.missing', 'long')").as("m"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        count(col("m")).as("n_missing"))
      .orderBy("event_type")

  /** WITH RECURSIVE (Spark 4 recursive CTE): a 5-hop chain walk over
    * nation keys (k → k+5) — the data-driven transitive-closure shape
    * that dedup clustering uses, through the SQL front-end on both
    * engines.
    */
  def qRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "nation").createOrReplaceTempView("nation_rc_v")
    s.sql(
      """WITH RECURSIVE anc(k, root, depth) AS (
           SELECT n_nationkey, n_nationkey, 0 FROM nation_rc_v
           WHERE n_nationkey < 5
           UNION ALL
           SELECT n.n_nationkey, a.root, a.depth + 1
           FROM nation_rc_v n JOIN anc a ON n.n_nationkey = a.k + 5)
         SELECT root, COUNT(*) AS chain_len, MAX(depth) AS max_depth
         FROM anc GROUP BY root ORDER BY root""")
  }

  /** Aggregate FILTER clauses — per-branch conditional aggregation
    * without CASE scaffolding, one pass.
    */
  def qFilterAgg(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_fa_v")
    s.sql(
      """SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
             FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted,
           MAX(l_quantity) FILTER (WHERE l_linestatus = 'F') AS max_qty_f
         FROM lineitem_fa_v GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  /** MAP column surface: build per-customer priority→spend maps
    * (map_from_entries over a pre-aggregated, hence key-unique, set),
    * probe with element_at, then explode back to rows — the oracle
    * states the same truth map-free, proving the map round-trip is
    * lossless.
    */
  def qMapFuncs(s: SparkSession, dir: String): DataFrame = {
    val per = tbl(s, dir, "orders")
      .groupBy("o_custkey", "o_orderpriority")
      .agg(dsum(col("o_totalprice")).as("v"))
    per.groupBy("o_custkey")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("o_orderpriority").as("k"), col("v"))))).as("m"))
      .select(col("o_custkey"),
        size(col("m")).as("n_prios"),
        element_at(col("m"), "1-URGENT").as("urgent_total"),
        explode(col("m")).as(Seq("prio", "total")))
      .select(col("o_custkey"), col("n_prios"), col("urgent_total"),
        col("prio"), col("total"))
      .orderBy("o_custkey", "prio")
  }

  /** Streaming exact dedup AS A GATE QUERY: two file-stream sources over
    * the same parquet are unioned (every event arrives twice — the
    * at-least-once replay shape), then dropDuplicatesWithinWatermark
    * evicts its key state past the watermark (bounded state — a plain
    * dropDuplicates would hold every key forever). Each batch's per-type
    * PARTIAL counts land in the delta log (map-side combine: the log
    * holds types×batches rows, never events); dedup guarantees each
    * event contributes exactly once across batches, so the log's summed
    * partials equal the batch DISTINCT truth the oracle computes.
    */
  def qEventsStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "events").schema
    def src = withTsEvent(
      s.readStream.schema(schema).parquet(eventsStreamDir(dir).toString))
    val deduped = src.unionAll(src)
      .withWatermark("ts_event", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    val log = streamToDeltaLog(s, deduped, "append",
      prepare = _.groupBy("event_type").agg(count(lit(1)).as("n")))
    val logSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    readDeltaLog(s, log, logSchema)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"))
      .orderBy("event_type")
  }

  /** Within-document repetition (Gopher-style quality rule): fraction of
    * word trigrams that are repeats of an earlier trigram in the same
    * doc. High rep_frac = boilerplate/spam → filter before training.
    * Per-doc aggregation only — embarrassingly parallel, no cross-doc
    * state.
    */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    // fanout (r17, guide §2.5): tokenize + trigram explode + keyed agg
    // with a SINGLE consumer — the q_burrows_delta shape (no reuse to
    // perturb, unlike q_boilerplate's recorded revert); shuffles only
    // the raw doc rows ahead of the amplification
    fanout(tbl(s, dir, "documents"))
      .select(col("doc_id"),
        expr(tokensSql)
          .as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 2),
             i -> concat_ws(' ', slice(ws, i, 3)))""")).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        countDistinct(col("g")).as("n_uniq"))
      .select(col("doc_id"), col("n_tri"), col("n_uniq"),
        // count ratios land ON .5 ties at 6dp (n_tri | 2e6 cases) —
        // deterministic floor-form readout (rndDet)
        rndDet(lit(1.0) - col("n_uniq") / col("n_tri"), 6)
          .as("rep_frac"))
      .orderBy("doc_id")

  /** One persisted MinHash band index per testdata dir: written once
    * over the oldest 90% of docs; every invocation probes the newest 10%
    * as the "incoming ingest batch".
    */
  val minhashIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Incremental dedup against the persisted index
    * (ops/Dedup.writeMinhashIndex / probeMinhashIndex): the probe ships
    * only the batch's banded keys (broadcast); the corpus-side index is
    * hash-probed in place — O(batch) per ingest, never O(corpus).
    * Rows-only driver check; probe == one-shot-pair-search parity is
    * asserted oracle-grade in OpsSpec.
    */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val (path, cut) = minhashIndexCache.computeIfAbsent(dir, { d =>
      val docs0 = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0)
      val c = maxId * 9 / 10
      val built = scratchBuildOnce(s, "mh_index", "documents", d) { p =>
        graft.ops.Dedup.writeMinhashIndex(
          docs0.filter(col("doc_id") <= c), "doc_id", "text", p)
      }
      (built, c)
    })
    val batch = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") > cut)
    graft.ops.Dedup
      .probeMinhashIndex(s, path, batch, "doc_id", "text", threshold = 0.5)
      .select(col("old_id"), col("new_id"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("old_id", "new_id")
  }

  val minhashPostDelCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Post-delete incremental dedup (source-bound MinHash index — the
    * TOMBSTONE sibling of ann_post_delete): the index is built FROM a
    * TxnTable of the corpus slice and bound to its version; a
    * `deleteWhere(doc_id % 10 = 5)` then STALES it (the residue
    * chosen to intersect the matched pairs at BOTH test scales, so
    * the gate is never vacuous), and the checked
    * probe refreshes — appending ONE tombstone row per deleted id
    * (epoch-fenced; `bands/`/`sigs/` are never rewritten) — before
    * probing the ingest batch. Every pair whose old side was deleted
    * must vanish; the DuckDB twin replays the incremental probe with
    * the deleted ids excluded from the corpus side.
    */
  def qDedupPostDelete(s: SparkSession, dir: String): DataFrame = {
    val (root, cut) = minhashPostDelCache.computeIfAbsent(dir, { d =>
      val docs0 = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0)
      val c = maxId * 9 / 10
      val built = scratchBuildOnce(s, "mh_txn_del5", "documents", d) { p =>
        graft.table.TxnTable.create(s, s"$p/table",
          docs0.filter(col("doc_id") <= c))
        graft.table.TxnTable.enableCdf(s, s"$p/table", Seq("doc_id"))
        graft.ops.Dedup.writeMinhashIndexFromTable(
          s, s"$p/table", "doc_id", "text", s"$p/index")
        graft.table.TxnTable.deleteWhere(s, s"$p/table",
          col("doc_id") % 10 === 5)
        ()
      }
      (built, c)
    })
    val batch = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") > cut)
    graft.ops.Dedup
      .probeMinhashIndexChecked(s, s"$root/index", batch,
        "doc_id", "text", threshold = 0.5, refreshIfStale = true)
      .select(col("old_id"), col("new_id"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("old_id", "new_id")
  }

  /** Benchmark decontamination (training-data hygiene): flag training
    * docs sharing any word 8-gram with the benchmark slice (doc_id<50
    * stands in for a held-out eval set). One tokenize+explode subtree
    * feeds both sides; the benchmark gram set is bounded by the eval
    * suite's size — constant w.r.t. corpus scale — so it broadcasts, and
    * the training side never shuffles on the gram key. The contamination
    * ratio is per-doc distinct-gram overlap.
    */
  def qContamination(s: SparkSession, dir: String): DataFrame = {
    // fanout (r16): the 8-gram transform+explode amplifies each doc into
    // ~n_tokens rows of ~8-token strings — parallelize past the single
    // scan task before paying it
    val toks = fanout(tbl(s, dir, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        expr(tokensSql)
          .as("ws"))
      .filter(size(col("ws")) >= 8)
    val grams = toks.select(col("doc_id"),
      explode(expr(
        """transform(sequence(1, size(ws) - 7),
             i -> concat_ws(' ', slice(ws, i, 8)))""")).as("g"))
      .distinct()
    val bench = grams.filter(col("doc_id") < 50).select("g").distinct()
    val train = grams.filter(col("doc_id") >= 50)
    // r16 optimization: the old tot/hit pair scanned the training grams
    // TWICE (per-doc totals, then join+count of benchmark hits) and
    // joined the two aggregates back together. A broadcast LEFT join
    // computes both counts in ONE pass over the training grams; the old
    // inner tot⋈hit kept exactly the docs with ≥1 shared gram, which is
    // the n_shared >= 1 filter. Row set and values identical (grams are
    // per-doc DISTINCT, bench is distinct, so the left join never
    // duplicates a row).
    train.join(broadcast(bench.withColumn("bhit", lit(1))),
        Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("bhit")).as("n_shared"))
      .filter(col("n_shared") >= 1)
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        round(col("n_shared") / col("n_grams"), 6).as("ratio"))
      .orderBy("doc_id")
  }

  /** Stream-static join AS A GATE QUERY: the events file-stream joins the
    * static customer dimension (re-resolved per micro-batch — the Spark
    * enrichment-join shape; the planner broadcasts it when it fits, and at
    * 100 TB an SF-scaling dim falls back to a per-batch shuffle join
    * without any code change). The stateless join feeds a keyed stateful
    * aggregate over segment×type (bounded state: key cardinality, not
    * event count), update-mode deltas into the distributed delta log,
    * gate result = keyed upsert of the log. Hash-matches the batch
    * join+agg oracle. (The parquet log also carries a NULL total_value
    * group natively — the old driver map needed explicit boxing.)
    */
  def qEventsStreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "events").schema
    val dim = tbl(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val joined = s.readStream.schema(schema)
      .parquet(eventsStreamDir(dir).toString)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total_dec"))
      .select(col("c_mktsegment"), col("event_type"), col("n"),
        col("total_dec").cast("double").as("total_value"))
    val log = streamToDeltaLog(s, joined, "update")
    readDeltaLogUpsert(s, log, joined.schema,
      Seq("c_mktsegment", "event_type"))
      .orderBy("c_mktsegment", "event_type")
  }

  /** Unigram language-model quality score (perplexity proxy): build the
    * corpus word-frequency table, score every document by its mean
    * negative log-probability, -ln(cnt/total) = ln total - ln cnt. High
    * mean_nll = rare-word soup (OCR junk, gibberish) → filter before
    * training. Exactly TWO corpus scans — the inherent minimum for
    * corpus-LM scoring (one builds the frequency table, one scores). The
    * global token total comes from the doc-sized per-doc aggregate, which
    * is persisted: column pruning would otherwise specialize the total
    * branch's partial aggregate (dropping sum_lncnt), defeat AQE exchange
    * reuse, and rescan the corpus a third time. The cache is #docs-sized
    * stats, not corpus-sized, and the CacheManager dedups it across
    * invocations — storage is bounded at ONE entry per session, held
    * until session stop (the lazy-DataFrame contract leaves no natural
    * unpersist point). Determinism across engines: per-token ln cnt is rounded
    * to 9dp and accumulated as DECIMAL(28,9), so the sum is exact and
    * order-independent (double summation order differs between Spark
    * partitions and the oracle).
    */
  def qPerplexity(s: SparkSession, dir: String): DataFrame = {
    val toks = tbl(s, dir, "documents")
      .select(col("doc_id"), explode(
        expr(tokensSql))
        .as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val perDoc = toks.join(vocab, "w")
      .select(col("doc_id"),
        expr("CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(28,9))")
          .as("lncnt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("lncnt")).as("sum_lncnt"))
      .persist()
    val totalDf = perDoc.agg(sum(col("n_tok")).as("total"))
    perDoc.crossJoin(broadcast(totalDf))
      .select(col("doc_id"), col("n_tok"),
        round(expr("ln(CAST(total AS DOUBLE))") -
          col("sum_lncnt").cast("double") / col("n_tok"), 6)
          .as("mean_nll"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance scoring (Data Selection via Importance
    * Resampling, arXiv:2302.03169, reduced to its unigram
    * log-likelihood-ratio core): score each raw document by how
    * target-like its word distribution is — Σ_w n_occ · [ln(cnt_t(w)+1)
    * − ln(cnt_r(w)+1)] + n_tok · [ln(R+V) − ln(T+V)], i.e. the add-1
    * smoothed ln p_target/p_raw of the document. doc_id < 50 is the
    * target slice (the q_contamination convention). Determinism is the
    * q_perplexity recipe: per-word ln ratios rounded to 9 dp and summed
    * as exact DECIMAL (associativity-proof under any partitioning);
    * the per-token constant applies once per doc at the end, rounded
    * to 6 dp. Shape: two word-keyed aggregates + one word-keyed join
    * back + a broadcast 1-row totals side — no all-pairs, no driver
    * state. The curation use: rank raw docs by dsir_score and keep the
    * top slice to shift a corpus toward a target domain.
    */
  def qDsirScore(s: SparkSession, dir: String): DataFrame = {
    val toks = tbl(s, dir, "documents")
      .select(col("doc_id"), explode(expr(tokensSql)).as("w"))
    val tgtCnt = toks.filter(col("doc_id") < 50)
      .groupBy("w").agg(count(lit(1)).as("cnt_t"))
    val raw = toks.filter(col("doc_id") >= 50)
    val rawCnt = raw.groupBy("w").agg(count(lit(1)).as("cnt_r"))
    val vocab = tgtCnt.join(rawCnt, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"),
        coalesce(col("cnt_r"), lit(0L)).as("cnt_r"))
    val stats = vocab.agg(
      sum(col("cnt_t")).as("tt"), sum(col("cnt_r")).as("tr"),
      count(lit(1)).as("v"))
    val wTerm = vocab.select(col("w"),
      expr("""CAST(round(ln(CAST(cnt_t + 1 AS DOUBLE)) -
                         ln(CAST(cnt_r + 1 AS DOUBLE)), 9)
              AS DECIMAL(28,9))""").as("llr"))
    raw.join(wTerm, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("llr")).as("sum_llr"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_tok"),
        round(col("sum_llr").cast("double") +
          col("n_tok") * (expr("ln(CAST(tr + v AS DOUBLE))") -
            expr("ln(CAST(tt + v AS DOUBLE))")), 6)
          .as("dsir_score"))
      .orderBy("doc_id")
  }

  /** Corpus-frequency boilerplate detection: the fraction of a document's
    * distinct word trigrams that occur in >= 50 documents (including
    * this one — document frequency, not "other documents"). The
    * cross-doc sibling of q_repetition (within-doc) and q_contamination
    * (vs a held-out set): high common_frac = templated/boilerplate text.
    * Gram document-frequency agg and the join back both shuffle on the
    * gram key, so the exchange is reused; no driver-side state.
    */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    // (r16: a fanout here was tried and REVERTED — slightly slower; the
    // df-agg and the join-back share the gram-key exchange, and the
    // extra repartition perturbed that reuse)
    val grams = tbl(s, dir, "documents")
      .select(col("doc_id"),
        expr(tokensSql)
          .as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 2),
             i -> concat_ws(' ', slice(ws, i, 3)))""")).as("g"))
      .distinct()
    val gramDf = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(gramDf, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 50, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        // count-ratio readout: rndDet, not round (tie determinism)
        rndDet(col("n_common") / col("n_grams"), 6).as("common_frac"))
      .orderBy("doc_id")
  }

  /** SCD2 / change-data-capture compression: collapse each user's event
    * stream into validity intervals over the event_type dimension — a row
    * survives only where the type CHANGES (lag), and its interval closes
    * at the next change (lead); the open interval (valid_to_us NULL) is
    * the current state. Both windows share one partitioning+sort, so the
    * plan is a single keyed shuffle. Integer epoch-us math end to end.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // order by the RAW ts column (unique per user in this corpus, at
    // any precision the fixture ships), not a coarser truncation — and
    // the oracle's lag/lead order by the same raw ts; µs only in the
    // OUTPUT columns
    val w = Window.partitionBy("user_id").orderBy("ts")
    val ev0 = tbl(s, dir, "events")
    ev0
      .select(col("user_id"), col("event_type"), col("ts"),
        eventTsUs(ev0).as("ts_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
      .orderBy("user_id", "valid_from_us")
  }

  /** First/last-touch attribution via min_by/max_by keyed on the event
    * time — the argmin/argmax AGGREGATE surface (no window, no
    * self-join): one keyed shuffle per user. ts is unique per user in
    * this corpus, so the argmax is total-order deterministic.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .groupBy("user_id")
      .agg(expr("min_by(event_type, ts)").as("first_type"),
        expr("max_by(event_type, ts)").as("last_type"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id")

  /** Boolean + bitwise aggregate surface: bool_and/bool_or (SQL
    * every/any), count_if, and bit_and/bit_or/bit_xor over the customer
    * key — all codegen'd built-ins, one keyed shuffle.
    */
  def qBoolBitAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(expr("bool_and(c_acctbal > 0)").as("all_positive"),
        expr("bool_or(c_acctbal < 0)").as("any_negative"),
        expr("count_if(c_acctbal < 0)").as("n_negative"),
        expr("bit_and(c_custkey)").as("key_and"),
        expr("bit_or(c_custkey)").as("key_or"),
        expr("bit_xor(c_custkey)").as("key_xor"))
      .orderBy("c_nationkey")

  /** Deterministic pagination: global sort on a unique composite key,
    * then OFFSET + LIMIT (Spark pushes both into a single
    * TakeOrderedAndProject — no full global sort is materialized).
    */
  def qOrderOffset(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(100)
      .limit(20)

  /** Ordinal generator surface: posexplode gives each exploded word its
    * 1-based position; the per-doc positional checksum is an
    * order-independent integer sum. Narrow plan: explode + one keyed agg.
    */
  def qPosexplode(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        posexplode(expr(tokensSql)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        // long math before the multiply: the int product would overflow
        // (and throw under ANSI mode) on huge documents; the oracle
        // computes in BIGINT
        sum((col("pos") + 1).cast("long") * length(col("col")))
          .as("checksum"))
      .orderBy("doc_id")

  /** Retrieval-quality evaluation: kNN classification over the labeled
    * embeddings table. The probe set (vec_id < 20 — an eval suite, O(1)
    * w.r.t. corpus scale) broadcasts; the corpus is scanned once; the
    * per-probe top-10 runs as a rank window that Spark executes with
    * WindowGroupLimit pushdown (per-partition heaps, no global sort).
    * Rank is over the 4dp-ROUNDED cosine with the neighbor id as
    * tiebreak, so ordering is identical in both engines (the raw-double
    * rank could differ in the last ulp). n_same = top-10 neighbors
    * sharing the probe's label; top1_label = nearest neighbor's label.
    */
  def qKnnEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val e = tbl(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("label").as("own_label"),
        col("embedding").as("qv"))
    val corpus = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("nbr_id"), col("label").as("nbr_label"),
        col("embedding").as("nv"))
    val scored = corpus.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("own_label"), col("nbr_id"),
        col("nbr_label"),
        round(graft.functions.CosineSimilarity
          .cosine(col("nv"), col("qv")), 4).as("cos4"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos4").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .groupBy("probe_id", "own_label")
      .agg(sum(when(col("nbr_label") === col("own_label"), 1L)
          .otherwise(0L)).as("n_same"),
        expr("min_by(nbr_label, rnk)").as("top1_label"))
      .orderBy("probe_id")
  }

  /** BPE merge-candidate counting — the inner step of byte-pair-encoding
    * vocab induction (Sennrich et al. 2016, arXiv:1508.07909) run at
    * corpus scale: count adjacent symbol pairs WEIGHTED BY WORD
    * FREQUENCY, emit the top candidates. The corpus collapses to the
    * word-frequency table first (one keyed shuffle, map-side combined),
    * so pair explosion runs over DISTINCT words — O(vocab × word-length)
    * rows, not O(corpus tokens). Global top-k is TakeOrderedAndProject
    * (per-partition heads, never a single-partition sort); ties at the
    * cut are broken by the pair text, so the row set is deterministic.
    * Iterating the full BPE loop reapplies this with a merged symbol
    * table — the counting shape is identical each round.
    */
  def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    val wf = tbl(s, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z0-9_]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    wf.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), g -> substring(word, g, 2))"))
        .as("pair"), col("freq"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)
  }

  /** PERMISSIVE corrupt-record ingest AS A GATE QUERY: JSON payloads
    * built from orders with every 13th row truncated mid-object; the
    * engine must parse the good rows exactly and surface the corrupt
    * ones as NULLs (never fail the query — the quarantine posture
    * SourcesSpec checks file-level). Truth is known by construction,
    * so the oracle aggregates the source table directly, including the
    * parsed-value sum that proves good-row values round-trip through
    * JSON bit-exactly.
    */
  def qCorruptJson(s: SparkSession, dir: String): DataFrame = {
    val raw = tbl(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_orderkey") % 13 === 0,
        concat(lit("{\"k\":"), col("o_orderkey"), lit(",\"p\":")))
        .otherwise(to_json(struct(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("p"))))
        .as("js"))
    raw
      .select(col("o_orderkey"),
        from_json(col("js"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, p BIGINT"))
          .as("r"))
      .groupBy((col("o_orderkey") % 13 === 0).as("planted_corrupt"))
      .agg(count(lit(1)).as("n"),
        count(col("r.k")).as("n_parsed"),
        coalesce(sum(col("r.p")), lit(0L)).as("sum_cents"))
      .orderBy("planted_corrupt")
  }

  /** Salted equi-join gate (ops/Skew.saltedJoin): the hot-key spread
    * join — big side salted on the join key, small side replicated
    * once per salt — must be RESULT-identical to the plain equi-join,
    * which is exactly what the DuckDB oracle computes. Aggregated to a
    * bounded per-nation rollup so the gate output is stable.
    */
  def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_quantity"))
    val small = tbl(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    graft.ops.Skew
      .saltedJoin(big, small, "l_suppkey", "s_suppkey",
        salts = 8, spreadCol = "l_suppkey")
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("s_nationkey")
  }

  /** Small-file compaction gate (ops/Compaction.compactSorted): orders
    * rewritten once into ~4 sort-ordered files under the scratch URI,
    * then read back and aggregated — the rewrite must be perfectly
    * content-preserving (the oracle aggregates the ORIGINAL table), and
    * the sorted layout's footer-pruning value is spec-checked
    * separately. Write-once keyed by the source manifest, like every
    * persisted gate fixture.
    */
  def qCompaction(s: SparkSession, dir: String): DataFrame = {
    val compacted = scratchBuildOnce(s, "compact_orders", "orders", dir) {
      p =>
        graft.ops.Compaction.compactSorted(
          s, s"$dir/orders.parquet", p, Seq("o_orderkey"),
          targetBytes = 256L << 10)
        ()
    }
    s.read.parquet(compacted)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** Z-order layout gate (ops/ZOrder.writeZOrdered): lineitem rewritten
    * once into a Morton-clustered layout on (l_orderkey, l_partkey),
    * then probed with a 2-D box predicate — content must equal the same
    * box filter on the raw table (the oracle); the multi-dimension
    * file-skipping the layout buys is spec-checked mechanically in
    * OpsSpec. The box spans both dimensions so a single-column sort
    * could not satisfy it from one file range.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val zpath = scratchBuildOnce(s, "zorder_lineitem", "lineitem", dir) {
      p =>
        graft.ops.ZOrder.writeZOrdered(
          tbl(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey"), p,
          numFiles = 8)
    }
    s.read.parquet(zpath)
      .filter(col("l_orderkey") <= 2000 && col("l_partkey") <= 150)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_partkey")).as("max_pkey"))
      .orderBy("l_returnflag")
  }

  /** Distributed BPE tokenizer TRAINING (ops/BpeTrainer): 8 full merge
    * iterations over the corpus word-frequency table — pair-count
    * shuffle + 1-row arg-max collect + narrow merge per iteration, the
    * vocabulary-learning loop a training-data pipeline runs where the
    * reference only SERVES a pretrained tokenizer (q_bpe_pairs counts
    * one round's candidates; this learns the actual merge sequence).
    * Output: the learned merge table (step, lhs, rhs, n).
    */
  def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (merges, _) = graft.ops.BpeTrainer
      .train(corpusWordFreq(s, dir), "word", "freq", numMerges = 8)
    merges.map(m => (m.step, m.lhs, m.rhs, m.n))
      .toDF("step", "lhs", "rhs", "n")
      .orderBy("step")
  }

  /** One learned merge list per testdata dir: training is the
    * vocabulary-BUILD step (a persisted artifact in production, like
    * the LSH/IVF index layouts), so the encode gate trains once and
    * every later invocation measures the encode path alone.
    */
  val bpeMergesCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[graft.ops.BpeTrainer.Merge]]()

  def corpusWordFreq(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z0-9_]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Tokenizer ENCODE path (ops/BpeTrainer.encode): the 8 learned
    * merges applied in training order to the word table — a chained
    * narrow replace projection, zero shuffles beyond the output sort.
    * Output is each word's final segmentation + token count; the
    * oracle replays training AND encoding (its last CTE stage IS the
    * encoding, since the word column rides through every stage).
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesCache.computeIfAbsent(dir, { d =>
      graft.ops.BpeTrainer
        .train(corpusWordFreq(s, d), "word", "freq", numMerges = 8)._1
    })
    graft.ops.BpeTrainer.encode(corpusWordFreq(s, dir), "word", "freq", merges)
      .select(col("word"), col("n_tokens"), col("seq"))
      .orderBy("word")
  }

  /** Corpus token accounting under the LEARNED tokenizer: per-document
    * token count = Σ over words of occurrences × n_tokens(word) — the
    * statistic every token-budgeted mixing/packing step consumes
    * (q_token_budget / q_seq_packing price in fixed whitespace tokens;
    * this prices in the trained vocabulary). The distinct-word encode
    * table is O(vocab) — the planner broadcasts it here; at
    * beyond-broadcast vocabularies the word-keyed join shuffles, with
    * no code change. Oracle: the training replay's final stage feeds
    * the same join+sum.
    */
  def qBpeDocTokens(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesCache.computeIfAbsent(dir, { d =>
      graft.ops.BpeTrainer
        .train(corpusWordFreq(s, d), "word", "freq", numMerges = 8)._1
    })
    val enc = graft.ops.BpeTrainer
      .encode(corpusWordFreq(s, dir), "word", "freq", merges)
      .select(col("word"), col("n_tokens"))
    val docWords = tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9_]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n_occ"))
    docWords.join(enc, "word")
      .groupBy("doc_id")
      .agg(sum(col("n_occ") * col("n_tokens")).as("n_bpe_tokens"),
        sum(col("n_occ")).as("n_words"))
      .orderBy("doc_id")
  }

  /** Hybrid retrieval with reciprocal-rank fusion (k=60) — the
    * semantic-search composition the reference's embedding service
    * exists to power: a VECTOR ranked list (brute-force cosine of the
    * probe embeddings, the q_knn_eval shape: broadcast probes ×
    * one corpus scan, rounded-cosine WindowGroupLimit top-20) fused
    * with a LEXICAL ranked list (distinct-word Jaccard computed from
    * the shared write-once TF table: probe words broadcast onto one
    * word-keyed join, never a corpus×corpus comparison), then
    * `rrf = Σ 1/(60+rank)` over both lists, top-10 per probe.
    * Doc-count sides are broadcast like qBm25's dl (same caveat: at
    * corpus scales beyond broadcast, key the nd join by doc id).
    * Every ranking is rounded + id-tiebroken, so the DuckDB replay is
    * exact.
    */
  def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.CosineSimilarity.register(s)
    val e = tbl(s, dir, "embeddings")
    val pv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
    val cv = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("nbr_id"), col("embedding").as("nv"))
    val wV = Window.partitionBy("probe_id")
      .orderBy(col("cos4").desc, col("nbr_id"))
    val vr = cv.crossJoin(broadcast(pv))
      .select(col("probe_id"), col("nbr_id"),
        round(graft.functions.CosineSimilarity
          .cosine(col("nv"), col("qv")), 4).as("cos4"))
      .withColumn("vrank", row_number().over(wV))
      .filter(col("vrank") <= 20)
      .select(col("probe_id"), col("nbr_id"),
        col("vrank").cast("long").as("vrank"))

    val tf = writtenTfTable(s, dir) // (doc_id, word, tf): one row per pair
    val nw = tf.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val pw = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("word"))
    val inter = tf.filter(col("doc_id") >= 5)
      .select(col("doc_id").as("nbr_id"), col("word"))
      .join(broadcast(pw), "word")
      .groupBy("probe_id", "nbr_id").agg(count(lit(1)).as("inter"))
    val wL = Window.partitionBy("probe_id")
      .orderBy(col("jac").desc, col("nbr_id"))
    val lr = inter
      .join(broadcast(nw.select(col("doc_id").as("probe_id"),
        col("nw").as("np"))), "probe_id")
      .join(broadcast(nw.select(col("doc_id").as("nbr_id"),
        col("nw").as("nd"))), "nbr_id")
      .withColumn("jac", round(col("inter").cast("double") /
        (col("np") + col("nd") - col("inter")).cast("double"), 6))
      .withColumn("lrank", row_number().over(wL))
      .filter(col("lrank") <= 20)
      .select(col("probe_id"), col("nbr_id"),
        col("lrank").cast("long").as("lrank"))

    val wF = Window.partitionBy("probe_id")
      .orderBy(col("rrf6").desc, col("nbr_id"))
    vr.join(lr, Seq("probe_id", "nbr_id"), "full_outer")
      .withColumn("rrf6", round(
        coalesce(lit(1.0) / (lit(60L) + col("vrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60L) + col("lrank")), lit(0.0)), 6))
      .withColumn("rnk", row_number().over(wF).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("probe_id"), col("rnk"), col("nbr_id"),
        col("vrank"), col("lrank"), col("rrf6"))
      .orderBy("probe_id", "rnk")
  }

  /** Point-in-time snapshot (feature-store read): the per-user state
    * valid at a fixed instant, read from the SCD2 intervals — the row
    * whose [valid_from, valid_to) contains T — then aggregated. Same
    * single keyed shuffle as q_scd2; the interval filter is a narrow
    * post-window predicate.
    */
  def qSnapshot(s: SparkSession, dir: String): DataFrame = {
    val tUs = 1704240000000000L // 2024-01-03 00:00:00 UTC, mid-corpus
    qScd2(s, dir)
      .filter(col("valid_from_us") <= tUs &&
        (col("valid_to_us").isNull || col("valid_to_us") > tUs))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** OUTER generator semantics: explode_outer keeps a row (with NULL)
    * for documents whose filtered token list is empty — the LEFT JOIN
    * of generators. Inner explode silently drops such parents; for
    * per-doc accounting (every doc must appear in the output) the outer
    * variant is the correct tool. n_rows counts the padded row, n_words
    * only real tokens.
    */
  def qExplodeOuter(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(expr(
          s"filter($tokensSql, x -> x LIKE 'q%')")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rows"), count(col("w")).as("n_words"))
      .orderBy("doc_id")

  /** Error-safe ingestion math under ANSI mode (the Spark 4 default,
    * where a bad cast or overflow THROWS): try_cast/try_divide/try_add
    * return NULL instead — the production pattern for dirty data. The
    * oracle mirrors with TRY_CAST and NULLIF-guarded division.
    */
  def qTryFuncs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .select(col("p_partkey"),
        expr("try_cast(split_part(p_type, ' ', 1) AS INT)").as("bad_cast"),
        expr("try_cast(CAST(p_size AS STRING) AS INT)").as("good_cast"),
        expr("try_divide(p_retailprice, p_size - p_size)").as("div_zero"),
        round(expr("try_divide(p_retailprice, p_size)"), 6).as("div_ok"),
        expr("try_add(9223372036854775807L, p_partkey)").as("overflow"))
      .orderBy("p_partkey")

  /** WRITE-ONCE transactional-table fixture ([[graft.table.TxnTable]])
    * over orders — a five-commit history the table gates read back:
    *
    *   v0 create   orders with o_orderkey % 3 = 0
    *   v1 append   orders with o_orderkey % 3 = 1
    *   v2 merge    % 6 = 0 re-priced ×2 (updates) ∪ % 3 = 2 (inserts)
    *   v3 delete   tombstones o_orderkey % 5 = 0
    *   v4 cluster  range-clustered on o_orderkey into 8 files
    *
    * Every commit is replayable as pure SQL over the base orders table,
    * so each gate's oracle rebuilds its version as CTEs. Built under the
    * scratch URI keyed by the source manifest (the writtenTfTable
    * pattern); an interrupted build is wiped and redone, never trusted.
    */
  def writtenTxnOrdersTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "txntbl", "orders", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true) // partial build: start over
      val o = tbl(s, dir, "orders")
      val stats = Seq("o_orderkey")
      graft.table.TxnTable.create(s, root,
        o.filter(col("o_orderkey") % 3 === 0), stats)
      graft.table.TxnTable.append(s, root,
        o.filter(col("o_orderkey") % 3 === 1), stats)
      graft.table.TxnTable.merge(s, root,
        o.filter(col("o_orderkey") % 6 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(o.filter(col("o_orderkey") % 3 === 2)),
        Seq("o_orderkey"), stats)
      graft.table.TxnTable.delete(s, root,
        o.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
        Seq("o_orderkey"), stats)
      graft.table.TxnTable.cluster(s, root, Seq("o_orderkey"), 8, stats)
    }

  /** Schema-evolution twin on documents: v1 appends a `quality` column
    * (n_chars DIV 5) absent from v0, so half the table's files predate
    * the column and must read as nulls.
    */
  def writtenTxnDocsTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "evotbl", "documents", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, root, d.filter(col("doc_id") % 2 === 0))
      graft.table.TxnTable.append(s, root,
        d.filter(col("doc_id") % 2 === 1)
          .withColumn("quality", expr("n_chars DIV 5")))
    }

  /** WRITE-ONCE bloom-indexed table fixture: orders round-robined into
    * 8 interleaved files — every file's o_orderkey [min,max] spans the
    * whole key domain, so min/max stats can never prune a point probe —
    * with the bloom-index table property on o_orderkey.
    */
  def writtenTxnBloomTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "bloomtbl", "orders", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      graft.table.TxnTable.create(s, root,
        tbl(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice")
          .repartition(8),
        statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
    }

  /** Bloom point lookup through the manifest index: `o_orderkey = 7`
    * against the interleaved layout reads only bloom-positive files
    * (file-count drop asserted in TableSpec; the correctness gate
    * checks the returned row against the raw-orders oracle).
    */
  def qTableBloom(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable
      .snapshotPointEq(s, writtenTxnBloomTable(s, dir), "o_orderkey", 7L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  /** WRITE-ONCE full-merge fixture: create with o_orderkey % 3 = 0,
    * then ONE atomic three-clause merge — % 6 = 0 re-priced ×3
    * (matched update), % 3 = 1 (unmatched insert), and unmatched
    * targets with status 'F' deleted (not-matched-by-source clause).
    */
  def writtenTxnMergeFullTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "mftbl", "orders", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
      graft.table.TxnTable.create(s, root,
        o.filter(col("o_orderkey") % 3 === 0), Seq("o_orderkey"))
      val source = o.filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
        .unionByName(o.filter(col("o_orderkey") % 3 === 1))
      graft.table.TxnTable.mergeFull(s, root, source, Seq("o_orderkey"),
        deleteWhen = col("o_orderstatus") === "F")
    }

  /** Post-merge-full rollup: the oracle replays all three clauses over
    * raw orders (NOT IN + conditional delete + union).
    */
  def qTableMergeFull(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable
      .snapshot(s, writtenTxnMergeFullTable(s, dir))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** WRITE-ONCE merge-on-read fixture: create with o_orderkey % 3 = 0,
    * then TWO deletion-vector generations around a re-insert —
    *   v1 deleteMor  % 15 = 0            (dv on the create files)
    *   v2 append     % 15 = 0 re-inserted (new file, NO dv — visible)
    *   v3 deleteMor  % 21 = 0            (dv on ALL current files)
    * Final contents = (% 3 = 0) minus (% 21 = 0): the re-insert proves
    * dvs are file-scoped (not a key blacklist), the second generation
    * proves dvs stack across commits.
    */
  def writtenTxnMorTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "mortbl", "orders", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.table.TxnTable.create(s, root,
        o.filter(col("o_orderkey") % 3 === 0), Seq("o_orderkey"))
      graft.table.TxnTable.deleteMor(s, root,
        o.filter(col("o_orderkey") % 15 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
      graft.table.TxnTable.append(s, root,
        o.filter(col("o_orderkey") % 15 === 0), Seq("o_orderkey"))
      graft.table.TxnTable.deleteMor(s, root,
        o.filter(col("o_orderkey") % 21 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
    }

  /** Merge-on-read snapshot rollup: deletes applied at READ time from
    * the stacked deletion vectors, zero data rewritten (TableSpec pins
    * identical file paths across the delete commits).
    */
  def qTableMorDelete(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.snapshot(s, writtenTxnMorTable(s, dir))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** Zero-copy shallow clone of the 5-commit fixture (write-once): the
    * clone's rollup must equal the source's v3/v4 replay — same oracle
    * as q_table_snapshot, through a manifest that references the
    * source's files absolutely and owns no data of its own.
    */
  def qTableClone(s: SparkSession, dir: String): DataFrame = {
    val src = writtenTxnOrdersTable(s, dir)
    val root = scratchBuildOnce(s, "clonetbl", "orders", dir) { dst =>
      val p = new org.apache.hadoop.fs.Path(dst)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      graft.table.TxnTable.cloneTable(s, src, dst)
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Manifest-only aggregates over the 5-commit fixture: COUNT(*) and
    * the o_orderkey [min,max] answered WITHOUT opening a data file
    * (TxnTable.rowCount/statsRange — the O(#files) metadata fold that
    * replaces a 100 TB scan). The oracle recomputes both from the v3
    * replay, so the metadata must agree with the data to the row.
    */
  def qTableFastStats(s: SparkSession, dir: String): DataFrame = {
    val root = writtenTxnOrdersTable(s, dir)
    val n = graft.table.TxnTable.rowCount(s, root)
    val r = graft.table.TxnTable.statsRange(s, root, "o_orderkey")
      .getOrElse(sys.error("o_orderkey stats missing from the manifest"))
    // stats are double-space: exactness of the long conversion requires
    // |v| <= 2^53 (holds for every TPC-H key; guarded, not assumed)
    require(math.abs(r.min) <= 9007199254740992.0 &&
      math.abs(r.max) <= 9007199254740992.0,
      "o_orderkey stats outside the double-exact integer range")
    import s.implicits._
    Seq((n, r.min.toLong, r.max.toLong))
      .toDF("n_rows", "min_key", "max_key")
  }

  /** DSv2 TIME TRAVEL gate: `.option("versionAsOf", 1)` pins the
    * connector read to the pre-merge v1 manifest — same truth as
    * q_table_timetravel, proven through the planner-integrated path
    * (schema AND file set both resolve from the pinned version).
    */
  def qTableDsv2Timetravel(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.table.GraftTableProvider")
      .option("versionAsOf", "1")
      .load(writtenTxnOrdersTable(s, dir))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** GROUP BY ALL (Spark 4 SQL sugar — every non-aggregate select item
    * becomes a grouping key; both engines support it verbatim).
    */
  def qGroupByAll(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "documents").createOrReplaceTempView("docs_gba_v")
    s.sql(
      """SELECT lang, source, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM docs_gba_v GROUP BY ALL ORDER BY lang, source""")
  }

  /** DSv2 AGGREGATE PUSHDOWN gate: COUNT(*)/MIN/MAX through the
    * connector are answered from the manifest at planning time
    * (GraftAggScan — zero data files opened; TableSpec pins the plan
    * shape and the decline paths). Must equal the v3 data replay.
    */
  def qTableAggPushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.table.GraftTableProvider")
      .load(writtenTxnOrdersTable(s, dir))
      .selectExpr("count(*) AS n_rows", "min(o_orderkey) AS min_key",
        "max(o_orderkey) AS max_key")

  /** DSv2 LIMIT PUSHDOWN gate: a LIMIT-only read through the connector
    * plans only the file prefix whose cumulative manifest row counts
    * cover the limit (TableSpec pins the fewer-files plan shape); the
    * gate result is the count over the limited read — exactly
    * min(limit, |table|) — because WHICH rows a LIMIT returns is
    * engine-nondeterministic by SQL semantics, but HOW MANY is not.
    */
  def qTableLimit(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.table.GraftTableProvider")
      .load(writtenTxnOrdersTable(s, dir))
      .limit(10)
      .agg(count(lit(1)).as("n"))

  /** Latest table snapshot (v4, the clustered rewrite of v3): priority
    * rollup proving create→append→merge→delete→cluster composed right.
    */
  def qTableSnapshot(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.snapshot(s, writtenTxnOrdersTable(s, dir))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** TIME TRAVEL to v1: the same rollup over the pre-merge snapshot —
    * later rewrites must not bleed into an older manifest's file set.
    */
  def qTableTimetravel(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.snapshotAt(s, writtenTxnOrdersTable(s, dir), 1L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** Row-level CDC v1→v3: the merge's re-pricings surface as updates,
    * its new keys as inserts, the tombstoned keys as deletes (post-image
    * values except deletes, which carry the pre-image).
    */
  def qTableCdc(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.cdc(s, writtenTxnOrdersTable(s, dir), 1L, 3L,
        Seq("o_orderkey"))
      .select(col("o_orderkey"), col("_change_type").as("change_type"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("o_orderkey")

  /** Commit history from the manifests alone (no data files touched):
    * op sequence + exact row count per version.
    */
  def qTableHistory(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.history(s, writtenTxnOrdersTable(s, dir))
      .select("version", "op", "n_rows")
      .orderBy("version")

  /** Stats-pruned read over the clustered table: the manifest's disjoint
    * per-file o_orderkey ranges let the probe skip most files BEFORE the
    * scan (file skipping at the metadata layer — the mechanism that
    * turns a 100 TB table probe into a few-file read). Same answer as
    * the unpruned scan, asserted by the oracle.
    */
  def qTablePrune(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.snapshotWhere(s, writtenTxnOrdersTable(s, dir),
        col("o_orderkey").between(1000L, 5000L))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  /** Schema evolution end to end: files written before the `quality`
    * column existed serve typed nulls for it under the evolved read
    * schema — no rewrite, no footer-merge pass.
    */
  def qTableSchemaEvo(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.snapshot(s, writtenTxnDocsTable(s, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), count(col("quality")).as("n_q"),
        sum(col("quality")).as("sum_q"))
      .orderBy("lang")

  /** Scope-bounded-merge fixture: orders range-clustered on o_custkey
    * (8 files with tight custkey stats), then a
    * [[graft.table.TxnTable.mergeScoped]] re-pricing the o_custkey<100
    * slice — only the lowest custkey-range file(s) are rewritten; the
    * rest of the table is carried into the new manifest with zero IO.
    */
  def writtenScopedTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "scopedtbl", "orders", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val o = tbl(s, dir, "orders")
      val stats = Seq("o_custkey", "o_orderkey")
      graft.table.TxnTable.create(s, root,
        o.repartitionByRange(8, col("o_custkey")), stats)
      graft.table.TxnTable.mergeScoped(s, root,
        o.filter(col("o_custkey") < 100)
          .withColumn("o_totalprice", -col("o_totalprice")),
        Seq("o_orderkey"), "o_custkey", stats)
    }

  /** Snapshot after the scoped merge: the carried-verbatim files and the
    * rewritten slice must compose to exactly "negate prices where
    * o_custkey < 100" — a missed update OR a key duplicated across the
    * scope boundary both break the sums.
    */
  def qTableMergeScoped(s: SparkSession, dir: String): DataFrame =
    graft.table.TxnTable.snapshot(s, writtenScopedTable(s, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")

  /** STREAMING INGEST INTO THE TRANSACTIONAL TABLE: a real file-stream
    * query lands each micro-batch as a [[graft.table.TxnTable.appendBatch]]
    * commit — the batch-id fence and the data files become visible in
    * ONE atomic manifest rename, so a crash-replayed batch can never
    * double-append (the exactly-once shape DeltaLog's separate
    * high-water-mark file approximates; TableSpec proves the replay
    * no-op directly). The gate result reads the table back and must
    * equal the plain batch aggregate over the same documents.
    */
  def qDocsStreamTable(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "documents").schema
    val root = scratchTempDir(s, "graft_stream_tbl")
    val stream = s.readStream.schema(schema)
      .parquet(docsStreamDir(dir).toString)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.table.TxnTable.appendBatch(s, root, batch, id); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** Stream-source / wall-clock-travel fixture: documents (doc_id,
    * lang, n_chars) landed as create + 3 appends (the doc_id % 4
    * slices), with a short sleep between commits so manifest
    * timestamps strictly increase — wall-clock travel then resolves
    * versions deterministically.
    */
  def writtenStreamSrcTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "streamsrc", "documents", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true) // partial build: start over
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, root,
        d.filter(col("doc_id") % 4 === 0), Seq("doc_id"))
      (1 to 3).foreach { r =>
        Thread.sleep(5) // strictly increasing manifest timestamps
        graft.table.TxnTable.append(s, root,
          d.filter(col("doc_id") % 4 === r), Seq("doc_id"))
      }
    }

  /** STREAMING READ OF THE TRANSACTIONAL TABLE (the Delta-source twin
    * of docs_stream_table's sink side): a real readStream over the
    * DSv2 connector drains the table's commit history as micro-batches
    * — offsets are manifest versions, each batch is the file-set diff
    * between two manifests (O(new files), never a re-scan;
    * [[graft.table.GraftMicroBatchStream]]). The drained rows must
    * aggregate to exactly the batch snapshot — a dropped commit, a
    * double-delivered file, or a mis-diffed manifest all break the
    * sums. TableStreamSpec additionally proves a mid-stream append is
    * picked up incrementally and a rewrite in range fails loudly.
    */
  def qTableStreamRead(s: SparkSession, dir: String): DataFrame = {
    val root = writtenStreamSrcTable(s, dir)
    val out = scratchTempDir(s, "graft_stream_read_out")
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .load(root)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** STREAM → AGGREGATE → MERGE-BACK LOOP: the transactional table as
    * BOTH ends of a streaming pipeline — a readStream over the DSv2
    * source feeds a stateful per-language aggregation whose update-
    * mode batches MERGE into a second TxnTable (create on first batch,
    * keyed mergeFull after), so the downstream table always holds the
    * latest running totals. The final snapshot must equal the plain
    * batch aggregate — dropped update rows, double-applied merges, or
    * a missed source commit all break the counts.
    */
  def qTableStreamAgg(s: SparkSession, dir: String): DataFrame = {
    val src = writtenStreamSrcTable(s, dir)
    val outTbl = scratchTempDir(s, "graft_stream_agg_tbl")
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .load(src)
    runStream(s) {
      stream.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .writeStream
        .outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            if (graft.table.TxnTable.latestVersion(s, outTbl).isEmpty)
              graft.table.TxnTable.create(s, outTbl, b)
            else
              graft.table.TxnTable.mergeFull(s, outTbl, b, Seq("lang"),
                deleteWhen = lit(false))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    graft.table.TxnTable.snapshot(s, outTbl).orderBy("lang")
  }

  /** CDF fixture: documents (doc_id, lang, n_chars) through a history
    * that crosses every change-feed case — v0 create (%4==0 slice),
    * CDF enabled on doc_id, v1 append (%4==1), v2 mergeFull (inserts
    * %4==2, updates %8==1 with n_chars+1000, deletes %8==4 via
    * delete-by-absence), v3 compact (no logical change), v4 append
    * (%4==3).
    */
  def writtenCdfTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "cdftbl", "documents", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true) // partial build: start over
      val T = graft.table.TxnTable
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      T.create(s, root, d.filter(col("doc_id") % 4 === 0), Seq("doc_id"))
      T.enableCdf(s, root, Seq("doc_id"))
      T.append(s, root, d.filter(col("doc_id") % 4 === 1), Seq("doc_id"))
      val source = d.filter(col("doc_id") % 4 === 2)
        .unionByName(d.filter(col("doc_id") % 8 === 1)
          .withColumn("n_chars", coalesce(col("n_chars"), lit(0)) + 1000))
      T.mergeFull(s, root, source, Seq("doc_id"),
        deleteWhen = col("doc_id") % 8 === 4, Seq("doc_id"))
      T.compact(s, root, statsCols = Seq("doc_id"))
      T.append(s, root, d.filter(col("doc_id") % 4 === 3), Seq("doc_id"))
    }

  /** CDF-MODE STREAMING READ (`readChangeFeed=true` — the r10 VERDICT
    * ask): the stream rides THROUGH a mergeFull rewrite that the plain
    * file-diff source must refuse, emitting `_change_type`-tagged
    * change rows per commit — appends as O(new files) inserts, the
    * merge as its write-time-materialized change rows
    * ([[graft.table.TxnTable.enableCdf]]), the compact as NOTHING
    * (physical reorganization has no logical change). The per-version
    * per-type sums must equal the DuckDB replay of the same history —
    * a double-delivered rewrite, a missed update image, or change rows
    * leaking from the compact all break them. TableStreamSpec pins the
    * row-level images and the fail-loudly path for rewrites without
    * change data.
    */
  def qTableCdfStream(s: SparkSession, dir: String): DataFrame = {
    val root = writtenCdfTable(s, dir)
    val out = scratchTempDir(s, "graft_cdf_stream_out")
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .option("readChangeFeed", "true")
      .load(root)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.read.parquet(out)
      .groupBy(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("commit_version", "change_type")
  }

  /** RESTORE as a new commit ([[graft.table.TxnTable.restore]] — the
    * Delta RESTORE shape): create + two appends, then restore to v1 —
    * the snapshot must equal v1's content exactly while history keeps
    * all four commits (v3 = restore) and zero data files were
    * rewritten. O(metadata) at any table size.
    */
  def qTableRestore(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "restoretbl", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val T = graft.table.TxnTable
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      T.create(s, r, d.filter(col("doc_id") % 3 === 0), Seq("doc_id"))
      T.append(s, r, d.filter(col("doc_id") % 3 === 1), Seq("doc_id"))
      T.append(s, r, d.filter(col("doc_id") % 3 === 2), Seq("doc_id"))
      T.restore(s, r, 1L)
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** STATEFUL STREAMING AGGREGATION OVER THE CHANGE FEED: the CDF
    * source feeds a real update-mode streaming aggregation (state
    * store, not a foreachBatch fold) of signed per-language counts,
    * merged into a downstream TxnTable each batch — incremental
    * materialized-view maintenance with the table format on BOTH ends
    * and a rewrite (mergeFull) + compact inside the streamed range.
    * The downstream table's final state must equal the source's final
    * snapshot aggregate.
    */
  def qCdfStreamAgg(s: SparkSession, dir: String): DataFrame = {
    val src = writtenCdfTable(s, dir)
    val outTbl = scratchTempDir(s, "graft_cdf_stream_agg_tbl")
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .option("readChangeFeed", "true")
      .load(src)
    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L))
    runStream(s) {
      stream
        .groupBy("lang")
        .agg(sum(sign).as("n"), sum(sign * col("n_chars")).as("sum_chars"))
        .writeStream
        .outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            if (graft.table.TxnTable.latestVersion(s, outTbl).isEmpty)
              graft.table.TxnTable.create(s, outTbl, b)
            else
              graft.table.TxnTable.mergeFull(s, outTbl, b, Seq("lang"),
                deleteWhen = lit(false))
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    graft.table.TxnTable.snapshot(s, outTbl).orderBy("lang")
  }

  /** Wall-clock TIME TRAVEL (`timestampAsOf`) — the missing half of
    * the travel pair (q_table_dsv2_timetravel pins by version): the
    * commit timestamp of v1 must resolve to exactly v1's snapshot
    * (create slice + first append), via the DSv2 option so the
    * resolution path under test is the connector's.
    */
  def qTableTimetravelTs(s: SparkSession, dir: String): DataFrame = {
    val root = writtenStreamSrcTable(s, dir)
    val ts = graft.table.TxnTable.readManifest(s, root, 1L).timestampMs
    s.read
      .format("graft.table.GraftTableProvider")
      .option("timestampAsOf", ts)
      .load(root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL TIME TRAVEL through the catalog (the r10 VERDICT ask): Spark
    * 4's standard `SELECT ... FROM cat.t VERSION AS OF v` binds via
    * [[graft.table.GraftCatalog]]'s `loadTable(ident, version)`
    * overload — schema AND file set resolve from the pinned manifest
    * at `loadTable` time, O(manifest) metadata. Same truth as
    * q_table_timetravel_ts (v1 = create slice + first append);
    * TableEvolveSpec covers `TIMESTAMP AS OF` and the error paths.
    */
  def qTableSqlTimetravel(s: SparkSession, dir: String): DataFrame = {
    val root = writtenStreamSrcTable(s, dir)
    val p = new org.apache.hadoop.fs.Path(root)
    s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
    s.sql(
      s"""SELECT lang, COUNT(*) AS n, SUM(n_chars) AS sum_chars
         FROM gcat.`${p.getName}` VERSION AS OF 1
         GROUP BY lang ORDER BY lang""")
  }

  /** SQL `DELETE FROM` through the catalog (DSv2 SupportsDelete on
    * [[graft.table.GraftTable]]): the predicate converts conjunct-by-
    * conjunct to Columns — anything inexpressible is REFUSED at
    * analysis, never approximated — and executes as a
    * [[graft.table.TxnTable.deleteWhere]] rewrite commit (constraints
    * + CDF materialization apply). NULL-predicate rows are kept, the
    * SQL contract. The delete runs INSIDE the write-once fixture
    * build, so repeated gate runs read one committed history.
    */
  def qTableSqlDelete(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqldel", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r, d, Seq("doc_id"))
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(s"DELETE FROM gcat.`${p.getName}` " +
        "WHERE lang = 'de' OR n_chars < 200")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL `CREATE TABLE` + two `INSERT INTO … SELECT` through the
    * catalog ([[graft.table.GraftCatalog.createTable]] + the DSv2
    * writer → [[graft.table.TxnTable.append]]): the DDL that makes the
    * table format usable WITHOUT touching the Scala API. The table
    * opts doc_id into per-file stats via TBLPROPERTIES, so both
    * inserted halves are stats-indexed like any API-written commit.
    */
  def qTableSqlInsert(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqlins", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      val src = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      src.createOrReplaceTempView("graft_sqlins_src")
      s.sql(s"CREATE TABLE gcat.`${p.getName}` (${src.schema.toDDL}) " +
        "TBLPROPERTIES ('statsCols'='doc_id')")
      s.sql(s"INSERT INTO gcat.`${p.getName}` " +
        "SELECT * FROM graft_sqlins_src WHERE doc_id % 2 = 0")
      s.sql(s"INSERT INTO gcat.`${p.getName}` " +
        "SELECT * FROM graft_sqlins_src WHERE doc_id % 2 = 1")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL `CREATE TABLE … AS SELECT` (CTAS) through the catalog —
    * Spark's non-atomic v2 CTAS: createTable, then the aggregate lands
    * through the table's own writer (a failed write DROPs the table,
    * which the catalog now supports). The created table IS the stored
    * aggregate; the gate reads it back cold.
    */
  def qTableSqlCtas(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqlctas", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .createOrReplaceTempView("graft_sqlctas_src")
      s.sql(s"CREATE TABLE gcat.`${p.getName}` AS " +
        "SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) " +
        "AS sum_chars FROM graft_sqlctas_src WHERE n_chars >= 100 " +
        "GROUP BY lang")
      ()
    }
    graft.table.TxnTable.snapshot(s, root).orderBy("lang")
  }

  /** SQL `RESTORE TABLE … TO VERSION AS OF n` (parser extension →
    * [[graft.table.TxnTable.restore]]): time travel made DURABLE as a
    * new commit whose file set is the target's — the incident-recovery
    * statement (bad batch landed → restore to the version before it,
    * without losing the history in between). Content = the first two
    * slices; the bad third slice is gone from the live table but
    * still time-travels.
    */
  def qTableSqlRestore(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqlrestore", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r,
        d.filter(col("doc_id") % 4 === 0), Seq("doc_id"))
      graft.table.TxnTable.append(s, r,
        d.filter(col("doc_id") % 4 === 1), Seq("doc_id"))
      graft.table.TxnTable.append(s, r,
        d.filter(col("doc_id") % 4 === 2), Seq("doc_id"))
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(s"RESTORE TABLE gcat.`${p.getName}` TO VERSION AS OF 1")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** `graft_changes(path, fromV, toV)` TABLE FUNCTION — Delta's
    * `table_changes` surface: change rows between two versions from
    * pure SQL, planned as the DISTRIBUTED [[graft.table.TxnTable.cdf]]
    * diff (one keyed full-outer join; rows never touch the driver,
    * unlike the metadata TVFs). Fixture: CDF-enabled docs table,
    * one append (inserts) and one delete — the v0→v2 change set is
    * exactly derivable from the slices, which is what the oracle
    * replays.
    */
  def qTableSqlChanges(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqlchanges", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r,
        d.filter(col("doc_id") % 3 === 0), Seq("doc_id"))
      graft.table.TxnTable.enableCdf(s, r, Seq("doc_id"))
      graft.table.TxnTable.append(s, r,
        d.filter(col("doc_id") % 3 === 1), Seq("doc_id"))
      graft.table.TxnTable.deleteWhere(s, r, col("n_chars") < 300)
      ()
    }
    s.sql(
      s"""SELECT _change_type, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM graft_changes('$root', 0, 2)
         GROUP BY _change_type ORDER BY _change_type""")
  }

  /** SQL `TRUNCATE TABLE` through the catalog (DSv2 TruncatableTable →
    * an empty-overwrite COMMIT): history keeps every version — time
    * travel across the truncate still reads the old rows; the
    * post-truncate INSERT proves constraints/opt-ins carried forward.
    * Content = the second slice only; the oracle replays that.
    */
  def qTableSqlTruncate(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqltrunc", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r,
        d.filter(col("doc_id") % 2 === 0), Seq("doc_id"))
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(s"TRUNCATE TABLE gcat.`${p.getName}`")
      d.filter(col("doc_id") % 2 === 1)
        .createOrReplaceTempView("graft_sqltrunc_src")
      s.sql(s"INSERT INTO gcat.`${p.getName}` " +
        "SELECT * FROM graft_sqltrunc_src")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** SELECTIVE COMPACTION from SQL (`OPTIMIZE t SMALLER THAN n` →
    * [[graft.table.TxnTable.compactSmall]]): only the small-file
    * debris rewrites; healthy files carry into the new manifest
    * VERBATIM — the O(small) maintenance a 100 TB table actually runs
    * (the whole-table [[graft.table.TxnTable.compact]] is an
    * O(table) rewrite). The fixture interleaves one bulk slice with
    * nine small appends; content equality is the gate, the
    * carried-verbatim file identity is pinned in SqlMaintenanceSpec.
    */
  def qTableCompactSmall(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "cmpsmall", "customer", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val c = tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      graft.table.TxnTable.create(s, r,
        c.filter(col("c_custkey") % 10 < 8).coalesce(1), Seq("c_custkey"))
      (8 to 9).foreach { i =>
        (0 to 3).foreach { j =>
          graft.table.TxnTable.append(s, r,
            c.filter(col("c_custkey") % 10 === i &&
              col("c_custkey") % 4 === j).coalesce(1), Seq("c_custkey"))
        }
      }
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      // threshold between the bulk file and the debris at any SF: the
      // bulk slice holds 80% of rows, each debris file ~2.5%
      val m = graft.table.TxnTable.readManifest(s, r, 0L)
      val bulkBytes = m.files.map(_.bytes).max
      s.sql(s"OPTIMIZE gcat.`${p.getName}` SMALLER THAN $bulkBytes")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** COMPACTION-POLICY gate over the MULTI-COLUMN partition layout
    * (r15 VERDICT stretch #9): four interleaved ingest slices leave
    * ~4 debris files in every (status, priority) partition; one
    * `OPTIMIZE … SMALLER THAN` bin-packs each partition to one file,
    * and — the policy under test — a SECOND pass with the same
    * threshold is a version-for-version NO-OP. The pre-r16 table-wide
    * `≥2 small files` guard would rewrite every partition's lone file
    * on every maintenance run (O(partitions), forever); the
    * per-(pv, bucket) group policy keeps maintenance O(debris) at any
    * partition count. The build refuses a non-converging layout; the
    * oracle replays the per-partition rollup on the raw table.
    */
  def qTableCompactPolicy(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "cmppolicy", "orders", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice")
      val stats = Seq("o_orderkey")
      graft.table.TxnTable.create(s, r,
        o.filter(col("o_orderkey") % 4 === 0).coalesce(1), stats,
        partitionBy = Some(graft.table.TxnTable.PartitionSpec(
          "o_orderstatus", "identity",
          Some(Seq("o_orderstatus", "o_orderpriority")),
          Some(Seq("identity", "identity")))))
      (1 to 3).foreach { rr =>
        graft.table.TxnTable.append(s, r,
          o.filter(col("o_orderkey") % 4 === rr).coalesce(1), stats)
      }
      def files = graft.table.TxnTable.readManifest(s, r,
        graft.table.TxnTable.latestVersion(s, r).get).files
      if (!files.groupBy(_.pv).values.exists(_.size >= 2))
        sys.error("compact-policy fixture landed no per-partition debris")
      val v1 = graft.table.TxnTable.compactSmall(s, r, 64L << 20,
        statsCols = stats)
      if (!files.groupBy(_.pv).values.forall(_.size == 1))
        sys.error("OPTIMIZE SMALLER THAN must bin-pack every " +
          "partition to one file")
      val v2 = graft.table.TxnTable.compactSmall(s, r, 64L << 20,
        statsCols = stats)
      if (v2 != v1)
        sys.error(s"re-running OPTIMIZE must be a no-op (the " +
          s"anti-churn policy) — committed v$v2 over v$v1")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** NULL-STATS fixture: documents projected into a graft table with
    * doc_id and n_chars opted into per-file stats — which now includes
    * per-file NULL COUNTS ([[graft.table.TxnTable.FileEntry]] nulls),
    * the index behind IS [NOT] NULL file pruning and metadata-answered
    * COUNT(col).
    */
  def writtenNullTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "nulltbl", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      graft.table.TxnTable.create(s, r,
        tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("doc_id", "n_chars"))
      ()
    }

  /** COUNT(*) + COUNT(col) answered from the MANIFEST (DSv2 aggregate
    * pushdown over per-file row and null counts): an unfiltered
    * ungrouped count over a million-file table opens ZERO data files —
    * the writers already paid for the answer. The null-count half is
    * new this round; NullStatsSpec pins that the plan is the 1-row
    * GraftAggScan, not a scan-and-count.
    */
  def qTableNullAgg(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.table.GraftTableProvider")
      .load(writtenNullTable(s, dir))
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_chars")).as("n_chars_nn"))

  /** IS NOT NULL file pruning: the probe Spark implies under almost
    * every predicate now skips all-null files at the manifest (min/max
    * cannot — an all-null file has no min/max entry to test). Result
    * is the plain filtered aggregate; the file-skip counts are pinned
    * in NullStatsSpec on a synthetic all-null-file layout.
    */
  def qTableNullPrune(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.table.GraftTableProvider")
      .load(writtenNullTable(s, dir))
      .filter(col("n_chars").isNotNull)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")

  /** BUCKETED TABLE PAIR fixture: customer and orders CO-BUCKETED on
    * custkey by the same bucket count ([[graft.table.TxnTable.create]]
    * with a BucketSpec — rows routed through Spark's own
    * `repartition(n, col)` murmur3 assignment, per-file bucket ids in
    * the manifest). Written once per testdata generation; the layout
    * is what makes the join below storage-partitioned.
    */
  def writtenBucketPair(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "buckettbl", "orders", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      graft.table.TxnTable.create(s, s"$r/customer",
        tbl(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"),
        Seq("c_custkey"),
        bucketBy = Some(graft.table.TxnTable.BucketSpec("c_custkey", 8)))
      graft.table.TxnTable.create(s, s"$r/orders",
        tbl(s, dir, "orders")
          .select("o_custkey", "o_orderstatus", "o_totalprice"),
        Seq("o_custkey"),
        bucketBy = Some(graft.table.TxnTable.BucketSpec("o_custkey", 8)))
      ()
    }

  /** STORAGE-PARTITIONED JOIN over co-bucketed graft tables
    * (SPARK-37375): both scans report `KeyGroupedPartitioning(
    * bucket(8, custkey))`, the catalog resolves the `bucket` V2
    * function, and with `spark.sql.sources.v2.bucketing.enabled` the
    * join aligns bucket ids directly — NO exchange on either side
    * (asserted mechanically in BucketJoinSpec; at 100 TB this is the
    * difference between a fact-dim join that moves petabytes and one
    * that moves nothing). The result is the plain join truth either
    * way — the oracle replays it on the raw parquet.
    */
  def qTableBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val r = writtenBucketPair(s, dir)
    s.conf.set("spark.sql.catalog.gbkt", "graft.table.GraftCatalog")
    s.conf.set("spark.sql.catalog.gbkt.warehouse", r)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
         FROM gbkt.customer JOIN gbkt.orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** COMPOSITE-KEY bucketed pair: two per-(partkey, suppkey) rollups
    * co-bucketed on BOTH keys (each key independently into 4 —
    * [[graft.table.TxnTable.BucketSpec]] `cols`, the Iceberg-style
    * per-column transform composition; 16 composite buckets). The
    * scans report `bucket(4, l_partkey), bucket(4, l_suppkey)` and the
    * two-key join plans storage-partitioned — ZERO exchanges
    * (BucketJoinSpec pins the plan mechanically; this gate pins the
    * answer against the raw-parquet replay).
    */
  def writtenBucketPair2(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "buckettbl2", "lineitem", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val li = tbl(s, dir, "lineitem")
      val spec = graft.table.TxnTable.BucketSpec("l_partkey", 4,
        cols = Some(Seq("l_partkey", "l_suppkey")))
      graft.table.TxnTable.create(s, s"$r/qty",
        li.groupBy("l_partkey", "l_suppkey")
          .agg(sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("qty")),
        Seq("l_partkey"), bucketBy = Some(spec))
      graft.table.TxnTable.create(s, s"$r/rev",
        li.groupBy("l_partkey", "l_suppkey")
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("rev")),
        Seq("l_partkey"), bucketBy = Some(spec))
      ()
    }

  /** COMPOSED partition × bucket layout (r15 VERDICT ask #8): the fact
    * table carries BOTH roles — `PARTITIONED BY (o_orderstatus,
    * bucket(8, o_custkey))` — so every data file holds exactly one
    * (status, bucket id) pair; the dim is plain-bucketed on the same
    * key and count. The probe below then composes the two dividends in
    * ONE plan: the `o_orderstatus = 'F'` predicate prunes the fact
    * scan to the F-partition's files at planInputPartitions time
    * (manifest pv index — the non-F files are never opened), and the
    * surviving files still all carry bucket ids, so both scans report
    * `KeyGroupedPartitioning(bucket(8, custkey))` and the join plans
    * storage-partitioned — ZERO exchanges (PartBucketSpec pins the
    * pruned file set and the shuffle-free plan mechanically; at 100 TB
    * this is the canonical fact layout: days-pruning bounds the scan,
    * bucketing moves zero bytes for the join). The oracle replays the
    * join truth on the raw parquet.
    */
  def qTablePartBucket(s: SparkSession, dir: String): DataFrame = {
    val r = scratchBuildOnce(s, "partbuckettbl", "orders", dir) { rr =>
      val p = new org.apache.hadoop.fs.Path(rr)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      graft.table.TxnTable.create(s, s"$rr/fact",
        tbl(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice"),
        Seq("o_orderkey"),
        bucketBy = Some(graft.table.TxnTable.BucketSpec("o_custkey", 8)),
        partitionBy = Some(
          graft.table.TxnTable.PartitionSpec("o_orderstatus")))
      graft.table.TxnTable.create(s, s"$rr/dim",
        tbl(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        Seq("c_custkey"),
        bucketBy = Some(graft.table.TxnTable.BucketSpec("c_custkey", 8)))
      ()
    }
    s.conf.set("spark.sql.catalog.gpbk", "graft.table.GraftCatalog")
    s.conf.set("spark.sql.catalog.gpbk.warehouse", r)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
         FROM gpbk.fact JOIN gpbk.dim ON o_custkey = c_custkey
         WHERE o_orderstatus = 'F'
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  def qTableBucketJoin2(s: SparkSession, dir: String): DataFrame = {
    val r = writtenBucketPair2(s, dir)
    s.conf.set("spark.sql.catalog.gbkt2", "graft.table.GraftCatalog")
    s.conf.set("spark.sql.catalog.gbkt2.warehouse", r)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.sql(
      """SELECT CAST(q.l_partkey % 10 AS BIGINT) AS pk_mod,
           COUNT(*) AS n_pairs,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty,
           CAST(SUM(rev) AS DOUBLE) AS sum_rev
         FROM gbkt2.qty q JOIN gbkt2.rev r
           ON q.l_partkey = r.l_partkey AND q.l_suppkey = r.l_suppkey
         GROUP BY 1 ORDER BY 1""")
  }

  /** BUCKET PRUNING: an equality probe on the bucket column keeps ONE
    * bucket's files at `planInputPartitions` time — the point-lookup
    * path min/max stats cannot serve (a hash-scattered key overlaps
    * every file's range; its bucket id names exactly one). The probe
    * reads 1/8 of the table at any scale.
    */
  def qTableBucketPrune(s: SparkSession, dir: String): DataFrame = {
    val r = writtenBucketPair(s, dir)
    s.read.format("graft.table.GraftTableProvider").load(s"$r/orders")
      .filter(col("o_custkey") === 3L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** MAINTENANCE fixture on customer: ten arrival-ordered appends of
    * interleaved c_custkey slices (many small files with overlapping
    * stats — the state any streamed-into table degrades to), then the
    * three chores a log-structured table needs to stay fast at 100 TB:
    * compact (bin-pack the small files), cluster on c_custkey (make
    * per-file stats disjoint so manifest pruning works again), vacuum
    * retaining only the clustered version (reclaim every superseded
    * file — on an object store, the dominant storage cost of a
    * frequently-rewritten table).
    */
  def writtenMaintTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "mainttbl", "customer", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true) // partial build: start over
      val c = tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val stats = Seq("c_custkey")
      graft.table.TxnTable.create(s, root,
        c.filter(col("c_custkey") % 10 === 0), stats)
      (1 to 9).foreach { r =>
        graft.table.TxnTable.append(s, root,
          c.filter(col("c_custkey") % 10 === r), stats)
      }
      graft.table.TxnTable.compact(s, root,
        targetBytes = 1L << 20, statsCols = stats)
      graft.table.TxnTable.cluster(s, root, Seq("c_custkey"), 4, stats)
      graft.table.TxnTable.vacuum(s, root, retainLast = 1, graceMs = 0L)
      ()
    }

  /** DYNAMIC FILE PRUNING over an ordinary join: Spark's dynamic
    * partition pruning hands the broadcast dim's distinct join keys to
    * the graft scan as a runtime IN-filter
    * ([[graft.table.GraftScan.filter]]), which prunes manifest files
    * through per-file min/max stats, blooms, and bucket ids BEFORE
    * planning partitions — the fact scan is sized by the dim filter,
    * not the table (mechanism pinned in DynPruneSpec; at 100 TB a join
    * against "last week's keys" reads last week's files). The fact
    * side is the maintenance fixture: post-cluster, its c_custkey file
    * ranges are disjoint, so the key set prunes hard.
    */
  def qTableDynPrune(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.format("graft.table.GraftTableProvider")
      .load(writtenMaintTable(s, dir))
    val dim = tbl(s, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select("o_custkey").distinct()
    fact.join(broadcast(dim), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** SQL `UPDATE` through the catalog — DSv2 row-level operations in
    * group-based copy-on-write mode ([[graft.table.GraftRowLevelOperation]]):
    * Spark rewrites the statement over a pruning-disabled whole-table
    * scan and this table's distributed BatchWrite replaces the file
    * set in ONE conflict-checked manifest commit. NULL-pred rows stay
    * untouched; unchanged rows survive the replace byte-equal.
    */
  def qTableSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqlupd", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r, d, Seq("doc_id"))
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(s"UPDATE gcat.`${p.getName}` SET n_chars = n_chars + 1000 " +
        "WHERE lang = 'de'")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL `MERGE INTO` through the catalog (the same row-level COW
    * machinery, command MERGE): matched rows take the source image,
    * unmatched source rows insert — the full three-way statement the
    * TxnTable API's mergeFull already provides, now reachable from
    * pure SQL.
    */
  def qTableSqlMerge(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqlmrg", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r,
        d.filter(col("doc_id") % 2 === 0), Seq("doc_id"))
      d.filter(col("doc_id") % 4 <= 1)
        .withColumn("n_chars", coalesce(col("n_chars"), lit(0L)) + 5000L)
        .createOrReplaceTempView("graft_sqlmrg_src")
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(
        s"""MERGE INTO gcat.`${p.getName}` t USING graft_sqlmrg_src s
           ON t.doc_id = s.doc_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** Rename/drop evolution fixture: create → RENAME COLUMN n_chars →
    * chars → append (post-rename logical names) → DROP COLUMN lang →
    * append again. Every schema commit is O(metadata) — zero data
    * files rewritten ([[graft.table.TxnTable.renameColumn]]'s column
    * mapping); the three append generations carry three different
    * write-time schemas over ONE physical layout.
    */
  def writtenEvolvedTable(s: SparkSession, dir: String): String =
    scratchBuildOnce(s, "evolved", "documents", dir) { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true) // partial build: start over
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, root,
        d.filter(col("doc_id") % 3 === 0), Seq("doc_id"))
      graft.table.TxnTable.renameColumn(s, root, "n_chars", "chars")
      graft.table.TxnTable.append(s, root,
        d.filter(col("doc_id") % 3 === 1)
          .withColumnRenamed("n_chars", "chars"), Seq("doc_id"))
      graft.table.TxnTable.dropColumn(s, root, "lang")
      graft.table.TxnTable.append(s, root,
        d.filter(col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("n_chars").as("chars")),
        Seq("doc_id"))
    }

  /** COLUMN RENAME + DROP via column mapping, oracle-gated: the
    * snapshot after rename(n_chars→chars) + drop(lang) + two more
    * append generations must aggregate exactly like the raw documents
    * replay — pre-rename files still serving their bytes under the new
    * name (and NOT serving the dropped column) is the whole contract.
    * TableEvolveSpec proves the commits were O(metadata) (file sets
    * untouched) and that vacuum/time-travel work across the evolution.
    */
  def qTableRenameDrop(s: SparkSession, dir: String): DataFrame = {
    val root = writtenEvolvedTable(s, dir)
    graft.table.TxnTable.snapshot(s, root)
      .groupBy((col("doc_id") % 3).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("chars")).as("sum_chars"))
      .orderBy("bucket")
  }

  /** SQL `ALTER TABLE ADD COLUMN` through the catalog (the r11 VERDICT
    * ask — the DDL twin of the write-path schema evolution,
    * [[graft.table.TxnTable.addColumn]]): an O(metadata) commit adds
    * the nullable column, pre-existing files serve NULL for it, and a
    * post-add append carries real values — the mixed-generation
    * aggregate must replay exactly against raw documents.
    */
  def qTableSqlAddcol(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "sqladd", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
      graft.table.TxnTable.create(s, r,
        d.filter(col("doc_id") % 2 === 0), Seq("doc_id"))
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(s"ALTER TABLE gcat.`${p.getName}` ADD COLUMN note STRING")
      graft.table.TxnTable.append(s, r,
        d.filter(col("doc_id") % 2 === 1)
          .withColumn("note", lit("fresh")), Seq("doc_id"))
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy(coalesce(col("note"), lit("none")).as("note"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("note")
  }

  /** FILE-GROUP-PRUNED SQL UPDATE (the r11 VERDICT `weak`, fixed): on
    * a doc_id-clustered table, `UPDATE ... WHERE doc_id BETWEEN a AND
    * b` rewrites only the file groups whose rows matched — Spark's
    * runtime group filter collects matched `_file`s, the COW scan
    * prunes to them, and [[graft.table.TxnTable.commitCow]] carries
    * every untouched manifest entry verbatim (Round12Spec pins the
    * O(matched-files) write; this gate pins the answer).
    */
  def qTableCowPruned(s: SparkSession, dir: String): DataFrame = {
    val root = scratchBuildOnce(s, "cowprune", "documents", dir) { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(8, col("doc_id"))
      graft.table.TxnTable.create(s, r, d, Seq("doc_id"))
      s.conf.set("spark.sql.catalog.gcat", "graft.table.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcat.warehouse", p.getParent.toString)
      s.sql(s"UPDATE gcat.`${p.getName}` SET n_chars = n_chars + 7 " +
        "WHERE doc_id BETWEEN 100 AND 199")
      ()
    }
    graft.table.TxnTable.snapshot(s, root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL `graft_history(...)` TABLE FUNCTION (the DESCRIBE-HISTORY
    * surface — [[graft.table.GraftHistoryFunction]] via
    * [[graft.GraftExtensions]]): commit history of the stream-source
    * fixture from pure SQL, O(commits) metadata, zero data files. The
    * per-version row counts replay exactly from the slices the fixture
    * committed (cumulative doc_id%4 buckets).
    */
  def qTableSqlHistory(s: SparkSession, dir: String): DataFrame = {
    val root = writtenStreamSrcTable(s, dir)
    s.sql(s"SELECT version, op, n_rows FROM graft_history('$root') " +
      "ORDER BY version")
  }

  /** ADMISSION-CONTROLLED stream drain (`maxFilesPerTrigger = 1`):
    * the same commit history as q_table_stream, drained one file per
    * micro-batch through [[graft.table.GraftMicroBatchStream]]'s
    * SupportsAdmissionControl/SupportsTriggerAvailableNow path — the
    * restart-after-downtime story at 100 TB is "bounded batches, same
    * answer", and this gate pins the SAME ANSWER half (TableStreamSpec
    * pins the ceil(N/k) batch count and mid-backlog exactly-once).
    */
  def qTableStreamPaced(s: SparkSession, dir: String): DataFrame = {
    val root = writtenStreamSrcTable(s, dir)
    val out = scratchTempDir(s, "graft_stream_paced_out")
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .option("maxFilesPerTrigger", "1")
      .load(root)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.read.parquet(out)
      .groupBy((col("doc_id") % 4).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("bucket")
  }

  /** NATIVE STREAMING SINK (`writeStream.format("graft")` —
    * [[graft.table.GraftStreamingWrite]]): the destination table is
    * seeded with the doc_id%4==0 slice, then the source table's three
    * APPEND commits stream into it through the DSv2 StreamingWrite —
    * each micro-batch lands as a manifest-fenced `stream-append`
    * commit (epoch id in `streamHwm`, exactly-once across restarts;
    * TableStreamSpec pins the replay fence and orphan cleanup). Rows
    * never touch the driver: executor tasks write graft data files
    * with inline doc_id stats, the driver CASes one manifest per
    * epoch. The drained destination must aggregate to exactly the
    * full documents table — a dropped epoch, duplicate, or mis-fenced
    * replay breaks the sums.
    */
  def qTableStreamSink(s: SparkSession, dir: String): DataFrame = {
    val src = writtenStreamSrcTable(s, dir)
    val dst = scratchTempDir(s, "graft_stream_sink_tbl")
    val ckpt = scratchTempDir(s, "graft_stream_sink_ck")
    val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
    graft.table.TxnTable.create(s, dst,
      d.filter(col("doc_id") % 4 === 0), Seq("doc_id"))
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .option("startingVersion", "1") // the three append commits
      .load(src)
    runStream(s) {
      stream.writeStream
        .format("graft.table.GraftTableProvider")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
    }
    graft.table.TxnTable.snapshot(s, dst)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** STREAMING SINK SCHEMA EVOLUTION: the destination table starts
    * NARROW (doc_id, n_chars); the stream delivers the full 3-column
    * feed with `.option("mergeSchema", "true")`, so its FIRST epoch
    * widens the table schema atomically with its data
    * ([[graft.table.TxnTable.commitStreamFiles]] evolveSchema — the
    * grew-a-column restart every long-lived ingest eventually hits).
    * Pre-evolution rows back-fill NULL lang; the readout buckets them
    * under '_pre' so the oracle can replay the split exactly.
    * TableStreamSpec pins refusal-without-option and exactly-once
    * across the widened restart.
    */
  def qTableStreamEvolve(s: SparkSession, dir: String): DataFrame = {
    val src = writtenStreamSrcTable(s, dir)
    val dst = scratchTempDir(s, "graft_stream_evolve_tbl")
    val ckpt = scratchTempDir(s, "graft_stream_evolve_ck")
    val d = tbl(s, dir, "documents").select("doc_id", "lang", "n_chars")
    graft.table.TxnTable.create(s, dst,
      d.filter(col("doc_id") % 4 === 0).select("doc_id", "n_chars"),
      Seq("doc_id"))
    val stream = s.readStream
      .format("graft.table.GraftTableProvider")
      .option("startingVersion", "1") // the three append commits
      .load(src)
    runStream(s) {
      stream.writeStream
        .format("graft.table.GraftTableProvider")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("mergeSchema", "true")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
    }
    graft.table.TxnTable.snapshot(s, dst)
      .groupBy(coalesce(col("lang"), lit("_pre")).as("lang_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang_bucket")
  }

}
