package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile sketches, survival, effect sizes, regression diagnostics, inequality family (round-10 batches 12–31).
  *
  * Members mix into [[SparkEntry]] and resolve against its helpers
  * (`tbl`, `fanout`, `rndDet`) via the self-type.
  */
private[graft] trait SparkEntryStatBatteries { this: SparkEntry.type =>

  /** The daily order-revenue series every time-series query in this
    * family shares: one keyed aggregate to days-sized data (the corpus
    * never reaches a window), revenue as exact DECIMAL.
    */
  def dailyRevenue(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))

  /** Daily revenue re-quantized to DECIMAL(18,2) so squared terms stay
    * inside both engines' exact-DECIMAL multiply precision (Spark
    * (18,2)² → (37,4); DuckDB (18,2)² → (36,4) — a (38,2)² would
    * overflow DuckDB's 38-digit cap). */
  def dailyRev18(s: SparkSession, dir: String): DataFrame =
    dailyRevenue(s, dir)
      .select(col("day"), col("rev").cast("decimal(18,2)").as("rev"))

  // ---- round-10 batch 12: quantile sketch + survival + signed rank ----

  /** FIXED-MEMORY QUANTILE SKETCH vs exact: a 256-bucket equi-width
    * histogram of order totals (the mergeable constant-state shape a
    * streaming percentile monitor carries), read out at p50/p90/p99 by
    * in-bucket linear interpolation, NEXT TO the exact percentile_disc
    * answers — the sketch's error is part of the result (q_countmin /
    * q_ams_f2 contract). The sketch pass is one map-side-combined
    * aggregate to ≤256 rows at any scale.
    */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = tbl(s, dir, "orders").select(col("o_totalprice").as("x"))
    val mm = o.agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      count(lit(1)).as("n"))
    val hist = o.crossJoin(broadcast(mm))
      .select(expr(
        """least(CAST(floor((x - mn) / (mx - mn) * 256.0d) AS INT),
           255)""").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("cb", coalesce(sum(col("cnt")).over(Window
        .orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val qs = s.range(0, 3).select(
      expr("element_at(array(0.5d, 0.9d, 0.99d), CAST(id + 1 AS INT))")
        .as("q"))
    val est = qs.crossJoin(broadcast(mm))
      .withColumn("target", col("q") * col("n").cast("double"))
      .join(hist, col("cb").cast("double") + col("cnt").cast("double")
        >= col("target"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q")
          .orderBy("bucket")))
      .filter(col("rn") === 1)
      .select(col("q"), expr(
        """mn + (CAST(bucket AS DOUBLE)
             + (target - CAST(cb AS DOUBLE)) / CAST(cnt AS DOUBLE))
           * (mx - mn) / 256.0d""").as("est"))
    o.createOrReplaceTempView("qsk_orders_v")
    val exact = s.sql(
      """SELECT
           percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS e50,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY x) AS e90,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY x) AS e99
         FROM qsk_orders_v""")
    est.crossJoin(broadcast(exact))
      .withColumn("exact", expr(
        """CASE WHEN q = 0.5d THEN e50 WHEN q = 0.9d THEN e90
           ELSE e99 END"""))
      .select(col("q"), col("exact"), round(col("est"), 4).as("est"),
        round(expr("abs(est - exact) / exact"), 6).as("rel_err"))
      .orderBy("q")
  }

  /** LOG-RANK TEST between the two md5-arm customer cohorts on
    * time-to-first-order (days since corpus start, no censoring): at
    * each distinct event day the observed-minus-expected and
    * hypergeometric variance come from pure-integer at-risk counts
    * (suffix counts off one cumulative window over the days-sized
    * event table), each term 9-dp-rounded into the exact DECIMAL sum,
    * χ² = (ΣO−E)²/ΣV — the survival-curve-difference gate, all state
    * calendar-bounded.
    */
  def qLogRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("fd"))
    val lo = first.agg(min(col("fd")).as("d0"))
    val ev = first.crossJoin(broadcast(lo))
      .select(datediff(col("fd"), col("d0")).cast("long").as("t"), expr(
        """CAST(conv(substring(md5(concat('29:',
             CAST(o_custkey AS STRING))), 1, 8), 16, 10) AS BIGINT)
           % 2""").as("arm"))
      .groupBy("t")
      .agg(sum(when(col("arm") === 0, 1).otherwise(0)).cast("long")
          .as("d1"),
        sum(when(col("arm") === 1, 1).otherwise(0)).cast("long")
          .as("d2"))
    val tot = ev.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val risk = ev.crossJoin(broadcast(tot))
      .withColumn("c1", coalesce(sum(col("d1")).over(w), lit(0L)))
      .withColumn("c2", coalesce(sum(col("d2")).over(w), lit(0L)))
      .select(col("n1"), col("n2"),
        col("d1"), col("d2"),
        (col("n1") - col("c1")).as("r1"),
        (col("n2") - col("c2")).as("r2"))
      .withColumn("oe", expr(
        """CAST(round(CAST(d1 AS DOUBLE)
             - CAST(d1 + d2 AS DOUBLE) * CAST(r1 AS DOUBLE)
               / CAST(r1 + r2 AS DOUBLE), 9) + 0.0d
           AS DECIMAL(18,9))"""))
      .withColumn("v", expr(
        """CAST(round(CASE WHEN r1 + r2 > 1 THEN
             CAST(d1 + d2 AS DOUBLE)
             * (CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
             * (CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
             * (CAST(r1 + r2 - d1 - d2 AS DOUBLE)
               / CAST(r1 + r2 - 1 AS DOUBLE))
           ELSE 0.0d END, 9) + 0.0d AS DECIMAL(18,9))"""))
    risk.agg(max(col("n1")).as("n_a"), max(col("n2")).as("n_b"),
        sum(col("d1")).as("o_a"), sum(col("oe")).as("soe"),
        sum(col("v")).as("sv"))
      .select(col("n_a"), col("n_b"), col("o_a"),
        round(expr("CAST(o_a AS DOUBLE) - CAST(soe AS DOUBLE)"), 6)
          .as("e_a"),
        round(expr(
          """CAST(soe AS DOUBLE) * CAST(soe AS DOUBLE)
             / CAST(sv AS DOUBLE)"""), 6).as("chi2_logrank"))
  }

  /** WILCOXON SIGNED-RANK of the year-over-year daily revenue change
    * (1996 vs 1995, paired on month+day): midranks of |diff| from
    * cumulative counts over the DISTINCT |diff| domain (qSpearman
    * contract), W⁺ as an exact DECIMAL rank sum, tie-corrected normal
    * approximation — the paired, outlier-robust "did this year really
    * move" answer.
    */
  def qWilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val d95 = daily.filter(year(col("day")) === 1995)
      .select(month(col("day")).as("m"), dayofmonth(col("day")).as("d"),
        col("rev").as("r95"))
    val d96 = daily.filter(year(col("day")) === 1996)
      .select(month(col("day")).as("m"), dayofmonth(col("day")).as("d"),
        col("rev").as("r96"))
    val diffs = d95.join(d96, Seq("m", "d"))
      .select((col("r96") - col("r95")).as("diff"))
      .filter(col("diff") =!= 0)
      .select(col("diff"), abs(col("diff")).as("ad"))
    val dom = diffs.groupBy("ad").agg(count(lit(1)).as("t"))
      .withColumn("cb", coalesce(sum(col("t")).over(Window
        .orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("mr", expr(
        """CAST(CAST(cb AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0d) / 2.0d
           AS DECIMAL(12,1))"""))
    val ties = dom.agg(sum(col("t")).as("n"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
    diffs.join(dom.select(col("ad"), col("mr")), "ad")
      .agg(sum(when(col("diff") > 0, col("mr"))
        .otherwise(lit(0).cast("decimal(12,1)"))).as("wp"))
      .crossJoin(broadcast(ties))
      .select(col("n").as("n_pairs"),
        col("wp").cast("double").as("w_plus"),
        round(expr(
          """(CAST(wp AS DOUBLE)
             - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0d) / 4.0d)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0d)
               * (2.0d * CAST(n AS DOUBLE) + 1.0d) / 24.0d
               - CAST(tsum AS DOUBLE) / 48.0d)"""), 6).as("z"))
  }

  // ---- round-10 batch 13: keyword extraction ----

  val rakeStopsSeq = Seq("the", "and", "of", "to", "in", "is",
    "that", "for", "with", "a", "as", "on", "at", "by", "an", "be",
    "or", "it", "this", "are", "was", "from", "not", "but", "have",
    "has", "had", "they", "he", "she", "we", "you", "i")
  val rakeStopsSqlList =
    rakeStopsSeq.map(w => s"'$w'").mkString(", ")

  /** RAKE KEYWORD EXTRACTION over the corpus: phrases are maximal
    * stopword/punctuation-free word runs (positions from ONE
    * posexplode, phrase ids from a per-doc boundary-count window —
    * never a per-phrase regex pass), word score = degree/frequency
    * over kept (≤4-word) phrases, phrase score = Σ word scores with
    * each term 6-dp-quantized so the DECIMAL sum is order-proof.
    * Top 15 phrases by score — the classic unsupervised keyword
    * harvest, one corpus explode + counts-sized joins.
    */
  def qRakeKeywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tbl(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+"))
          .as(Seq("pos", "w")))
      .withColumn("b",
        col("w") === "" || expr(s"w IN ($rakeStopsSqlList)"))
      .withColumn("pid", sum(col("b").cast("int")).over(Window
        .partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Cache ONE ROW PER KEPT PHRASE (its ordered word array) — the
    // algorithm's natural state floor: phrase scores need per-phrase
    // word multisets, but nothing downstream needs token-instance
    // rows, so the cache is phrases-sized (~len× smaller than the
    // exploded stream) and the ≤4-word keep-filter lands BEFORE the
    // persist (r10 VERDICT ask #1 audit).
    val pm = toks.filter(!col("b"))
      .groupBy("doc_id", "pid")
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, w))), x -> x.w)")
        .as("ws"))
      .withColumn("len", size(col("ws")).cast("long"))
      .filter(col("len") <= 4)
      .persist()
    val phrases = pm.select(col("doc_id"), col("pid"),
      concat_ws(" ", col("ws")).as("phrase"), col("len"))
    val wordRows = pm.select(col("doc_id"), col("pid"), col("len"),
      explode(col("ws")).as("w"))
    val wstat = wordRows.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("score_w", expr(
        """CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 6)
           AS DECIMAL(18,6))"""))
    val psc = wordRows.join(broadcast(wstat.select("w", "score_w")), "w")
      .groupBy("doc_id", "pid")
      .agg(sum(col("score_w")).as("psc"))
    phrases.join(psc, Seq("doc_id", "pid"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occur"),
        min(col("psc")).cast("double").as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(15)
  }

  /** TEXTRANK KEYWORDS: the ±2-position co-occurrence graph over the
    * top-100 content words (edges from two lead() windows — no
    * corpus self-join), then 5 damped degree-normalized PageRank
    * iterations with per-term AND per-score 12-dp DECIMAL
    * re-quantization. The co-occurrence graph is ≤ C(100,2) weighted
    * edges BY CONSTRUCTION (both endpoints vocab-filtered), so the
    * iteration state is driver-trivial at any corpus size: ONE
    * bounded collect of the aggregated edge list (the
    * q_markov_attribution doctrine — the r13 version ran the 5
    * iterations as Spark jobs with an eager localCheckpoint each,
    * i.e. 5 job barriers for ≤100 rows of state, and its fresh-JVM
    * solo time showed it). The driver fold replicates the
    * distributed arithmetic exactly: t = round(wt/ow·sc, 12) via
    * Scala BigDecimal(double) (valueOf shortest-rendering HALF_UP —
    * the same path Spark's Round takes for DoubleType), exact
    * decimal sums, sc' = round(.15+.85·st, 12). The corpus-side work
    * (explode, two lead() windows, vocab joins, edge count) stays
    * fully distributed. Top 15 words.
    */
  def qTextrank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tbl(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+"))
          .as(Seq("pos", "w")))
      .filter(col("w") =!= "" && !expr(s"w IN ($rakeStopsSqlList)"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(100)
      .select(col("w"))
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    val nbr = toks
      .withColumn("w1", lead(col("w"), 1).over(wdoc))
      .withColumn("w2", lead(col("w"), 2).over(wdoc))
    val raw = nbr.select(col("w").as("a"), col("w1").as("b"))
      .union(nbr.select(col("w").as("a"), col("w2").as("b")))
      .filter(col("b").isNotNull && col("a") =!= col("b"))
      .join(broadcast(vocab.select(col("w").as("a"))), "a")
      .join(broadcast(vocab.select(col("w").as("b"))), "b")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("wt"))
    // bounded collect: ≤ C(100,2) = 4950 aggregated vocab-pair rows
    val pairs = raw.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val und = pairs ++ pairs.map { case (a, b, w) => (b, a, w) }
    val outw: Map[String, Long] =
      und.groupBy(_._1).map { case (a, es) => a -> es.map(_._3).sum }
    val nodes = und.map(_._1).distinct.sorted
    def rd12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var sc: Map[String, BigDecimal] =
      nodes.map(_ -> BigDecimal(1.0).setScale(12)).toMap
    for (_ <- 1 to 5) {
      val st: Map[String, BigDecimal] =
        und.groupBy(_._2).map { case (tgt, es) =>
          tgt -> es.map { case (a, _, wt) =>
            rd12(wt.toDouble / outw(a).toDouble * sc(a).toDouble)
          }.sum
        }
      sc = nodes.map { n =>
        n -> rd12(0.15d + 0.85d *
          st.getOrElse(n, BigDecimal(0)).toDouble)
      }.toMap
    }
    import org.apache.spark.sql.types.{DecimalType, StringType,
      StructField, StructType}
    s.createDataFrame(
      s.sparkContext.parallelize(
        nodes.toSeq.map(n =>
          org.apache.spark.sql.Row(n, sc(n).bigDecimal)), 1),
      StructType(Seq(StructField("a", StringType),
        StructField("sc", DecimalType(28, 12)))))
      .select(col("a").as("word"),
        round(col("sc").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("word"))
      .limit(15)
  }

  // ---- round-10 batch 14: cluster quality + trusses + downside risk ----

  /** SIMPLIFIED SILHOUETTE of the labeled embedding clusters: a(i) =
    * distance to the own-label centroid, b(i) = min distance to any
    * other centroid, s = (b−a)/max(a,b), averaged per label.
    * Centroids come from the qEmbedDimStats exact-DECIMAL dim sums
    * (9-dp-quantized means), every squared-difference term is
    * 9-dp-quantized before its 64-dim DECIMAL sum, so the whole
    * readout is order-proof. Shape: rows × dims × k — k is bounded,
    * so this is one narrow fan-out + two keyed aggregates at any
    * corpus size (never vectors × vectors).
    */
  def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "ef")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("ef").cast("double").as("v"))
    val cent = e.groupBy(col("label").as("clabel"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,12)")).as("sv"))
      .select(col("clabel"), col("dim"), expr(
        """round(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 9) + 0.0d""")
        .as("m"))
    val dist = e.join(broadcast(cent), Seq("dim"))
      .select(col("vec_id"), col("label"), col("clabel"), expr(
        """CAST(round((v - m) * (v - m), 9) AS DECIMAL(18,9))""")
        .as("t"))
      .groupBy("vec_id", "label", "clabel")
      .agg(expr("sqrt(CAST(sum(t) AS DOUBLE))").as("d"))
    val ab = dist.groupBy("vec_id", "label")
      .agg(max(when(col("label") === col("clabel"), col("d"))).as("a"),
        min(when(col("label") =!= col("clabel"), col("d"))).as("b"))
      .select(col("vec_id"), col("label"), col("a"), col("b"), expr(
        """CAST(round((b - a) / greatest(a, b, 1e-12d), 6) + 0.0d
           AS DECIMAL(18,6))""").as("sil"))
    ab.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(expr("CAST(sum(sil) AS DOUBLE) / COUNT(1)"), 6)
          .as("mean_silhouette"),
        round(expr("""CAST(sum(CAST(round(a, 6) AS DECIMAL(18,6)))
          AS DOUBLE) / COUNT(1)"""), 6).as("mean_a"),
        round(expr("""CAST(sum(CAST(round(b, 6) AS DECIMAL(18,6)))
          AS DOUBLE) / COUNT(1)"""), 6).as("mean_b"))
      .orderBy("label")
  }

  /** K-TRUSS PEELING (k=4: every surviving edge sits in ≥2 triangles
    * among surviving edges; 3 bounded rounds): per round one wedge
    * join computes each edge's support and under-supported edges
    * leave, localCheckpointed per round (qKcore recipe). The
    * edge-level cohesion filter that strips tree-like fringe before
    * community mining — and the DuckDB twin unrolls the same three
    * rounds.
    */
  def qKtruss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lazy checkpoints + fused per-round readout (r16, the qKcore
    // recipe): 1 job per round instead of 3; the exploded count is
    // exactly 2× the edge count, so n_edges = count/2 is value-identical
    var und = writtenEdgesTable(s, dir)
      .filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (it <- 1 to 3) {
      val adj = und.select(col("u").as("a"), col("v").as("b"))
        .union(und.select(col("v").as("a"), col("u").as("b")))
      val sup = und
        .join(adj.select(col("a").as("u"), col("b").as("w1")), Seq("u"))
        .join(adj.select(col("a").as("v"), col("b").as("w2")), Seq("v"))
        .filter(col("w1") === col("w2"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      val prev = und
      und = und.join(sup.filter(col("support") >= 2), Seq("u", "v"),
          "left_semi")
        .localCheckpoint(false)
      val r = und.select(explode(array(col("u"), col("v"))).as("n"))
        .agg(countDistinct(col("n")), count(lit(1))).head()
      prev.unpersist()
      out += ((it, r.getLong(0), r.getLong(1) / 2))
    }
    out.toSeq.toDF("iter", "n_nodes", "n_edges")
  }

  /** SORTINO RATIO of the daily revenue series: day-over-day returns
    * 9-dp-quantized, mean return and DOWNSIDE deviation (√ of the
    * mean squared negative return) from exact DECIMAL sums,
    * annualized ×√252 — the risk metric that, unlike Sharpe, only
    * charges for harmful volatility. Pairs with [[qDrawdown]] /
    * [[qVarCvar]] on the same series.
    */
  def qSortino(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rets = dailyRev18(s, dir)
      .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("day")))
      .filter(col("prev").isNotNull)
      .select(expr(
        """CAST(round(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE),
           9) + 0.0d AS DECIMAL(18,9))""").as("r"))
    rets.agg(count(lit(1)).as("n_days"), sum(col("r")).as("sr"),
        sum(expr("""CAST(round(CAST(least(r,
            CAST(0 AS DECIMAL(18,9))) AS DOUBLE)
            * CAST(least(r, CAST(0 AS DECIMAL(18,9))) AS DOUBLE), 9)
          AS DECIMAL(18,9))""")).as("sd2"))
      .select(col("n_days"),
        round(expr("CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE)"), 6)
          .as("mean_daily_ret"),
        round(expr(
          "sqrt(CAST(sd2 AS DOUBLE) / CAST(n_days AS DOUBLE))"), 6)
          .as("downside_dev"),
        round(expr(
          """CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE)
             / sqrt(CAST(sd2 AS DOUBLE) / CAST(n_days AS DOUBLE))
             * 15.874507866387544d"""), 6).as("sortino_annual"))
  }

  // ---- round-10 batch 15: exact test + extremes + dispersion ----

  /** FISHER'S EXACT TEST (two-sided) of English vs above-median
    * length over the documents 2×2: log-factorials as a CUMULATIVE
    * 9-dp-rounded-ln DECIMAL prefix over 0..n (one corpus-count-sized
    * window — the libm contract), every candidate table's log-pmf as
    * pure DECIMAL lookups, the two-sided tail by the standard
    * pmf ≤ pmf_obs·(1+ε) rule with ε applied on the EXACT DECIMAL
    * log scale, and the p-value as a 12-dp-quantized exp sum. The
    * small-cell answer where the χ² approximation lies.
    */
  def qFisherExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tbl(s, dir, "documents").select(col("lang"), col("n_chars"))
      .createOrReplaceTempView("fe_docs_v")
    val cells = s.sql(
      """WITH med AS (SELECT percentile_disc(0.5)
             WITHIN GROUP (ORDER BY n_chars) AS med FROM fe_docs_v)
         SELECT
           CAST(SUM(CASE WHEN lang = 'en' AND n_chars >= med
             THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN lang = 'en' AND n_chars < med
             THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN lang <> 'en' AND n_chars >= med
             THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN lang <> 'en' AND n_chars < med
             THEN 1 ELSE 0 END) AS BIGINT) AS d
         FROM fe_docs_v CROSS JOIN med""")
      .withColumn("n", expr("a + b + c + d"))
      .withColumn("r1", expr("a + b"))
      .withColumn("c1", expr("a + c"))
    val lf = cells.select(explode(expr("sequence(0, n)")).as("i"))
      .withColumn("lnp", expr(
        """CASE WHEN i = 0 THEN CAST(0 AS DECIMAL(18,9))
           ELSE CAST(round(ln(CAST(i AS DOUBLE)), 9)
             AS DECIMAL(18,9)) END"""))
      .withColumn("lf", sum(col("lnp")).over(Window.orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("i"), col("lf"))
    def lfAt(k: String, as: String) = lf
      .select(col("i").as(k), col("lf").as(as))
    val ts = cells
      .select(col("a"), col("b"), col("c"), col("d"), col("n"),
        col("r1"), col("c1"),
        explode(expr(
          "sequence(greatest(0L, r1 + c1 - n), least(r1, c1))"))
          .as("t"))
      .join(lfAt("r1", "lf_r1"), "r1")
      .join(lfAt("c1", "lf_c1"), "c1")
      .join(lfAt("n", "lf_n"), "n")
      .withColumn("r2", expr("n - r1"))
      .withColumn("c2", expr("n - c1"))
      .join(lfAt("r2", "lf_r2"), "r2")
      .join(lfAt("c2", "lf_c2"), "c2")
      .join(lfAt("t", "lf_t"), "t")
      .withColumn("t2", expr("r1 - t"))
      .join(lfAt("t2", "lf_t2"), "t2")
      .withColumn("t3", expr("c1 - t"))
      .join(lfAt("t3", "lf_t3"), "t3")
      .withColumn("t4", expr("n - r1 - c1 + t"))
      .join(lfAt("t4", "lf_t4"), "t4")
      .withColumn("lnpmf", expr(
        """lf_r1 + lf_r2 + lf_c1 + lf_c2 - lf_n
           - lf_t - lf_t2 - lf_t3 - lf_t4"""))
    val obs = ts.filter(col("t") === col("a"))
      .select(col("lnpmf").as("lnobs"))
    ts.crossJoin(broadcast(obs))
      .filter(col("lnpmf") <= col("lnobs")
        + lit(BigDecimal("0.0000001")).cast("decimal(18,9)"))
      .agg(max(col("a")).as("a"), max(col("b")).as("b"),
        max(col("c")).as("c"), max(col("d")).as("d"),
        sum(expr(
          """CAST(round(exp(CAST(lnpmf AS DOUBLE)), 12)
           AS DECIMAL(18,12))""")).as("psum"))
      .select(col("a"), col("b"), col("c"), col("d"),
        round(expr("least(CAST(psum AS DOUBLE), 1.0d)"), 9)
          .as("p_two_sided"),
        round(expr(
          """CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
             / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"""), 6)
          .as("odds_ratio"))
  }

  /** GUMBEL EXTREME-VALUE FIT on monthly block maxima of daily
    * revenue: method-of-moments (β = σ√6/π, μ = mean − γβ with γ, π
    * as literals), plus the 12-month return level μ − β·ln(−ln(1−1/12))
    * — "how big a day should we provision for each year". Maxima and
    * moments from exact DECIMAL block aggregates; one ln pair at the
    * end on constants.
    */
  def qGumbelMaxima(s: SparkSession, dir: String): DataFrame = {
    val bm = dailyRev18(s, dir)
      .groupBy(date_trunc("month", col("day")).as("mon"))
      .agg(max(col("rev")).as("mx"))
    bm.agg(count(lit(1)).as("n_blocks"), sum(col("mx")).as("sm"),
        sum(col("mx") * col("mx")).as("s2"))
      .withColumn("sd", expr(
        """sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
           - (CAST(sm AS DOUBLE) / CAST(n_blocks AS DOUBLE))
             * (CAST(sm AS DOUBLE) / CAST(n_blocks AS DOUBLE)),
           0.0d))"""))
      .withColumn("beta", expr("sd * 0.7796968012336761d"))
      .withColumn("mu", expr(
        """CAST(sm AS DOUBLE) / CAST(n_blocks AS DOUBLE)
           - 0.5772156649015329d * beta"""))
      .select(col("n_blocks"), round(col("beta"), 4).as("beta"),
        round(col("mu"), 4).as("mu"),
        round(expr(
          "mu - beta * ln(-ln(1.0d - 1.0d / 12.0d))"), 4)
          .as("ret_level_12mo"))
  }

  /** POISSON OVERDISPERSION of daily event counts: the index of
    * dispersion var/mean and its χ² form (n−1)·s²/x̄ from one exact
    * integer moment pass — the is-this-really-Poisson gate before
    * anyone fits a rate model to arrival counts.
    */
  def qDispersion(s: SparkSession, dir: String): DataFrame = {
    val daily = withTsEvent(tbl(s, dir, "events"))
      .groupBy(to_date(col("ts_event")).as("day"))
      .agg(count(lit(1)).as("c"))
    daily.agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("n_days"),
        round(expr("CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)"), 6)
          .as("mean_rate"),
        round(expr(dispIdxSql), 6).as("dispersion_index"),
        round(expr(
          s"CAST(n_days - 1 AS DOUBLE) * $dispIdxSql"), 6)
          .as("chi2_stat"))
  }

  val dispIdxSql =
    """((CAST(s2 AS DOUBLE)
         - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
           / CAST(n_days AS DOUBLE))
       / CAST(n_days - 1 AS DOUBLE)
       / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)))"""

  // ---- round-10 batch 16: effect sizes + permutation inference ----

  /** HODGES–LEHMANN pseudo-median of the YoY daily revenue change:
    * the median of all Walsh averages (dᵢ+dⱼ)/2 over the paired-day
    * panel — the robust location estimate that goes with
    * [[qWilcoxonSigned]]. The pair grid is calendar-bounded (≤365²/2
    * at ANY corpus size), sums stay exact DECIMAL and the median
    * is percentile_disc over the exact sums (monotone ÷2 after).
    */
  def qHodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val d95 = daily.filter(year(col("day")) === 1995)
      .select(month(col("day")).as("m"), dayofmonth(col("day")).as("d"),
        col("rev").as("r95"))
    val d96 = daily.filter(year(col("day")) === 1996)
      .select(month(col("day")).as("m"), dayofmonth(col("day")).as("d"),
        col("rev").as("r96"))
    val diffs = d95.join(d96, Seq("m", "d"))
      .select((col("r96") - col("r95")).as("diff"), col("m"), col("d"))
      .withColumn("i", row_number().over(
        Window.orderBy(col("diff"), col("m"), col("d"))))
      .select(col("i"), col("diff"))
    val walsh = diffs.alias("a")
      .join(diffs.alias("b"), col("a.i") <= col("b.i"))
      .select((col("a.diff") + col("b.diff")).as("ws"))
    walsh.createOrReplaceTempView("hl_walsh_v")
    s.sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_walsh,
           round(CAST(percentile_disc(0.5)
             WITHIN GROUP (ORDER BY ws) AS DOUBLE) / 2.0d, 4)
             AS hl_estimate
         FROM hl_walsh_v""")
  }

  /** COHEN'S d AND HEDGES' g for the md5-arm spend difference — the
    * standardized effect sizes that turn [[qPowerMde]]'s machinery
    * into an interpretable "how big is the gap" number, with the
    * small-sample correction as a literal formula. One conditional-
    * moment pass, everything exact until the final division.
    */
  def qCohensD(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
      .withColumn("arm", expr(
        """CAST(conv(substring(md5(concat('23:',
             CAST(o_custkey AS STRING))), 1, 8), 16, 10) AS BIGINT)
           % 2"""))
    spend.agg(
        sum(when(col("arm") === 0, 1).otherwise(0)).cast("long")
          .as("n_a"),
        sum(when(col("arm") === 1, 1).otherwise(0)).cast("long")
          .as("n_b"),
        sum(when(col("arm") === 0, col("y"))).as("sa"),
        sum(when(col("arm") === 1, col("y"))).as("sb"),
        sum(when(col("arm") === 0, col("y") * col("y"))).as("qa"),
        sum(when(col("arm") === 1, col("y") * col("y"))).as("qb"))
      .withColumn("sd_pooled", expr(
        """sqrt(greatest(((CAST(qa AS DOUBLE)
             - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
               / CAST(n_a AS DOUBLE))
           + (CAST(qb AS DOUBLE)
             - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
               / CAST(n_b AS DOUBLE)))
           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0d),
           0.0d))"""))
      .withColumn("md", expr(
        """CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)"""))
      .select(col("n_a"), col("n_b"),
        round(col("md"), 4).as("mean_diff"),
        round(expr("md / sd_pooled"), 6).as("cohens_d"),
        round(expr(
          """md / sd_pooled * (1.0d - 3.0d
             / (4.0d * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
               - 2.0d) - 1.0d))"""), 6).as("hedges_g"))
  }

  /** CRAMÉR'S V for the lang × source association: χ² over the
    * bounded contingency grid with each (o−e)²/e term 9-dp-quantized
    * into the exact DECIMAL sum, then V = √(χ²/(n·(min(r,c)−1))) —
    * the scale-free "are these two categoricals entangled" readout
    * a mixture auditor wants beside the raw χ².
    */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val ct = tbl(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rt = ct.groupBy("lang").agg(sum(col("o")).as("rl"))
    val st = ct.groupBy("source").agg(sum(col("o")).as("cs"))
    val tot = ct.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nr"),
      countDistinct(col("source")).as("nc"))
    // complete grid (absent cells are o = 0)
    val grid = rt.crossJoin(st)
      .join(ct, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """CAST(round((CAST(o AS DOUBLE)
             - CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
               / CAST(n AS DOUBLE))
           * (CAST(o AS DOUBLE)
             - CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
               / CAST(n AS DOUBLE))
           / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE)
             / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9))"""))
    grid.agg(max(col("n")).as("n_docs"), max(col("nr")).as("nr"),
        max(col("nc")).as("nc"), sum(col("term")).as("chi2d"))
      .select(col("n_docs"),
        ((col("nr") - 1) * (col("nc") - 1)).as("df"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        round(expr(
          """sqrt(CAST(chi2d AS DOUBLE) / (CAST(n_docs AS DOUBLE)
             * CAST(least(nr, nc) - 1 AS DOUBLE)))"""), 6)
          .as("cramers_v"))
  }

  /** PERMUTATION TEST of the arm spend difference: 200 deterministic
    * md5-keyed relabelings (the q_bootstrap_ci replayable-randomness
    * contract), each rep's mean difference from exact conditional
    * DECIMAL sums, p = (1 + #{|Δ_perm| ≥ |Δ_obs|})/(R+1) with the
    * comparison on 6-dp-rounded DECIMALs so both engines count the
    * same exceedances. The 200× explode is map-side-combined to 200
    * rows — the same scale shape as the bootstrap.
    */
  def qPermutationTest(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
    val obs = spend
      .withColumn("arm", expr(
        """CAST(conv(substring(md5(concat('23:',
             CAST(o_custkey AS STRING))), 1, 8), 16, 10) AS BIGINT)
           % 2"""))
      .agg(expr("""CAST(round(
          CAST(SUM(CASE WHEN arm = 0 THEN y END) AS DOUBLE)
            / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
          - CAST(SUM(CASE WHEN arm = 1 THEN y END) AS DOUBLE)
            / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 6) + 0.0d
        AS DECIMAL(18,6))""").as("obs_diff"))
    // fanout (r16): ×200 explode + an md5 per exploded row. spend is a
    // post-shuffle aggregate that AQE rightly coalesces to ~1 tiny
    // partition — right for its BYTES, wrong for the 200× compute
    // amplification it feeds (the optimizer can't see that). An explicit
    // repartition pins the relabeling pass at cluster parallelism (AQE
    // honours user-specified partition counts); it shuffles only the
    // customer-sized pre-amplification rows.
    // r17 (VERDICT #7): the per-exploded-row int→string CAST + 3-arg
    // concat is precomputed into a literal array of 200 "p31:<rep>:"
    // prefixes (typedlit = a foldable ArrayType Literal, constant-
    // folded once — not the per-row-rebuilt transform(sequence(...))
    // lambda r16 measured slower). The md5 input strings are byte-
    // identical, so the oracle's replay is untouched; pos IS the rep
    // id, so grouping is unchanged.
    val reps = spend
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("o_custkey"), col("y"),
        posexplode(typedlit((0 until 200).map(i => s"p31:$i:")))
          .as(Seq("rep", "pfx")))
      .withColumn("parm", expr(
        """CAST(conv(substring(md5(concat(pfx,
             CAST(o_custkey AS STRING))), 1, 8), 16, 10)
           AS BIGINT) % 2"""))
      .groupBy("rep")
      .agg(expr("""CAST(round(
          CAST(SUM(CASE WHEN parm = 0 THEN y END) AS DOUBLE)
            / SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END)
          - CAST(SUM(CASE WHEN parm = 1 THEN y END) AS DOUBLE)
            / SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END), 6) + 0.0d
        AS DECIMAL(18,6))""").as("pd"))
    reps.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_reps"),
        max(col("obs_diff")).cast("double").as("obs_diff"),
        sum(when(abs(col("pd")) >= abs(col("obs_diff")), 1)
          .otherwise(0)).cast("long").as("n_exceed"))
      .select(col("n_reps"), col("obs_diff"), col("n_exceed"),
        round(expr(
          """(1.0d + CAST(n_exceed AS DOUBLE))
             / (CAST(n_reps AS DOUBLE) + 1.0d)"""), 6).as("p_perm"))
  }

  // ---- round-10 batch 17: multiple regression battery ----

  /** The shared (price ~ quantity + discount) moment pass: ONE
    * map-side-combinable aggregate over lineitem computing the ten
    * exact DECIMAL raw moments a 2-regressor normal-equation solve
    * needs. Every downstream statistic (OLS, ridge path, VIF) is
    * O(1) double math over this single row — the qLinreg contract
    * widened to two regressors.
    */
  def olsMoments(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_quantity").cast("decimal(12,2)").as("x"),
        col("l_discount").cast("decimal(12,2)").as("z"),
        col("l_extendedprice").cast("decimal(14,2)").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("z") * col("y")).as("szy"),
        sum(col("y") * col("y")).as("syy"))

  /** Centered-moment SQL fragments shared by the OLS / ridge / VIF
    * trio — written ONCE so the Spark select and the DuckDB twin use
    * byte-identical double expressions (same casts, same operation
    * order → bit-identical IEEE results, the qLinreg determinism
    * contract).
    */
  val cmSxx =
    """(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         / CAST(n AS DOUBLE))"""
  val cmSzz =
    """(CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
         / CAST(n AS DOUBLE))"""
  val cmSxz =
    """(CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)
         / CAST(n AS DOUBLE))"""
  val cmSxy =
    """(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         / CAST(n AS DOUBLE))"""
  val cmSzy =
    """(CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE)
         / CAST(n AS DOUBLE))"""
  val cmSyy =
    """(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
         / CAST(n AS DOUBLE))"""

  /** TWO-REGRESSOR OLS (price ~ quantity + discount) solved in closed
    * form from the 2×2 normal equations over exact centered moments —
    * never an iterative fit. b₁, b₂ come from the explicit 2×2
    * inverse, the intercept from the mean identity, R² from the
    * explained-sum identity b₁Sxy + b₂Szy over Syy, and adjusted R²
    * from the n−3 df correction. The 100 TB shape: one aggregate to a
    * single row, then O(1) arithmetic.
    */
  def qOlsMulti(s: SparkSession, dir: String): DataFrame =
    olsMoments(s, dir)
      .withColumn("det", expr(s"$cmSxx * $cmSzz - $cmSxz * $cmSxz"))
      .withColumn("b1", expr(
        s"($cmSzz * $cmSxy - $cmSxz * $cmSzy) / det"))
      .withColumn("b2", expr(
        s"($cmSxx * $cmSzy - $cmSxz * $cmSxy) / det"))
      .withColumn("r2", expr(
        s"(b1 * $cmSxy + b2 * $cmSzy) / $cmSyy"))
      .select(col("n").cast("long").as("n"),
        round(col("b1"), 6).as("b_qty"),
        round(col("b2"), 6).as("b_disc"),
        round(expr(
          """(CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE)
               - b2 * CAST(sz AS DOUBLE)) / CAST(n AS DOUBLE)"""), 6)
          .as("intercept"),
        round(col("r2"), 6).as("r2"),
        round(expr(
          """1.0d - (1.0d - r2) * (CAST(n AS DOUBLE) - 1.0d)
             / (CAST(n AS DOUBLE) - 3.0d)"""), 6).as("r2_adj"))

  /** RIDGE REGRESSION PATH: the same centered normal equations with a
    * per-λ diagonal bump, solved by the explicit 2×2 inverse at three
    * penalties (0 / 10⁴ / 10⁷) via a 3-row lambda explode — the
    * shrinkage trace that shows both coefficients contracting toward
    * zero as λ grows. λ = 0 must reproduce [[qOlsMulti]] exactly
    * (asserted in spec); the whole path costs one moment pass plus a
    * 3-row crossJoin.
    */
  def qRidgePath(s: SparkSession, dir: String): DataFrame = {
    val lambdas = s.range(0, 3)
      .select(when(col("id") === 0, 0.0d)
        .when(col("id") === 1, 1.0e4d)
        .otherwise(1.0e7d).as("lambda"))
    olsMoments(s, dir).crossJoin(broadcast(lambdas))
      .withColumn("det", expr(
        s"($cmSxx + lambda) * ($cmSzz + lambda) - $cmSxz * $cmSxz"))
      .select(col("lambda"),
        round(expr(
          s"(($cmSzz + lambda) * $cmSxy - $cmSxz * $cmSzy) / det"), 6)
          .as("b_qty"),
        round(expr(
          s"(($cmSxx + lambda) * $cmSzy - $cmSxz * $cmSxy) / det"), 6)
          .as("b_disc"))
      .orderBy("lambda")
  }

  /** VARIANCE INFLATION FACTOR of the (quantity, discount) design,
    * per return flag: VIF = 1/(1−r²ₓᵤ) where r²ₓᵤ = Sxz²/(SxxSzz) —
    * the collinearity audit that says whether [[qOlsMulti]]'s
    * coefficients are individually trustworthy. Grouped moments, one
    * row per flag, everything exact until the final divisions.
    */
  def qVif(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(12,2)").as("x"),
        col("l_discount").cast("decimal(12,2)").as("z"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("z")).as("sxz"))
      .withColumn("r2xz", expr(
        s"($cmSxz * $cmSxz) / ($cmSxx * $cmSzz)"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        round(expr(s"$cmSxz / sqrt($cmSxx * $cmSzz)"), 6)
          .as("corr_xz"),
        round(expr("1.0d / (1.0d - r2xz)"), 6).as("vif"))
      .orderBy("l_returnflag")

  // ---- round-10 batch 18: multivariate outliers + complexity ----

  /** MAHALANOBIS OUTLIERS over the per-customer (order count, total
    * spend) plane: the 2×2 covariance comes from ONE exact moment
    * pass, its closed-form inverse turns each customer's deviation
    * into d² = (vzz·dx² − 2vxz·dx·dz + vxx·dz²)/det, and the top-10
    * ride a TakeOrdered head — never a global sort materialized. The
    * correlation-aware upgrade of [[qVecOutlier]]'s centroid
    * distance: a customer can be normal on each axis and still be a
    * joint outlier.
    */
  def qMahalanobis(s: SparkSession, dir: String): DataFrame = {
    val feats = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("decimal(12,0)").as("x"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("z"))
    val mom = feats.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("z").cast("decimal(19,2)")
        * col("z").cast("decimal(19,2)")).as("szz"),
      sum(col("x").cast("decimal(12,0)")
        * col("z").cast("decimal(19,2)")).as("sxz"))
    feats.crossJoin(broadcast(mom))
      .withColumn("dx", expr(
        "CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("dz", expr(
        "CAST(z AS DOUBLE) - CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("vxx", expr(s"$cmSxx / CAST(n AS DOUBLE)"))
      .withColumn("vzz", expr(s"$cmSzz / CAST(n AS DOUBLE)"))
      .withColumn("vxz", expr(s"$cmSxz / CAST(n AS DOUBLE)"))
      .withColumn("d2", round(expr(
        """(vzz * dx * dx - 2.0d * vxz * dx * dz + vxx * dz * dz)
           / (vxx * vzz - vxz * vxz)"""), 6))
      .select(col("o_custkey"), col("x").cast("long").as("n_orders"),
        col("z").cast("double").as("spend"), col("d2"))
      .orderBy(col("d2").desc, col("o_custkey"))
      .limit(10)
  }

  /** PERMUTATION ENTROPY (order 3) of the daily-revenue series: each
    * day is classified by the ordinal pattern of (lag2, lag1, self)
    * — encoded as the three ≥-comparison bits, a tie-robust,
    * engine-identical code — and the Shannon entropy of the pattern
    * histogram is the series-complexity readout (low = trending /
    * predictable, ln 6 = white noise). ln rides the repo's
    * round-to-9dp-then-DECIMAL-sum contract; windows run over the
    * DAYS-sized aggregate only.
    */
  def qPermEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val w = Window.orderBy("day")
    val pats = daily
      .withColumn("r1", lag(col("rev"), 2).over(w))
      .withColumn("r2", lag(col("rev"), 1).over(w))
      .filter(col("r1").isNotNull)
      .select(concat(
        when(col("r1") >= col("r2"), lit("1")).otherwise(lit("0")),
        when(col("r2") >= col("rev"), lit("1")).otherwise(lit("0")),
        when(col("r1") >= col("rev"), lit("1")).otherwise(lit("0")))
        .as("pat"))
      .groupBy("pat").agg(count(lit(1)).as("c"))
    val tot = pats.agg(sum(col("c")).as("nt"))
    pats.crossJoin(broadcast(tot))
      .select(col("pat"), col("c"),
        (col("c").cast("decimal(18,0)")
          * expr("CAST(round(ln(CAST(c AS DOUBLE)"
            + " / CAST(nt AS DOUBLE)), 9) AS DECIMAL(12,9))"))
          .as("term"), col("nt"))
      .groupBy()
      .agg(max(col("nt")).cast("long").as("n_windows"),
        count(lit(1)).cast("long").as("n_patterns"),
        sum(col("term")).as("tsum"))
      .select(col("n_windows"), col("n_patterns"),
        round(expr(
          """-CAST(tsum AS DOUBLE) / CAST(n_windows AS DOUBLE)"""), 6)
          .as("perm_entropy"),
        round(expr(
          """-CAST(tsum AS DOUBLE) / CAST(n_windows AS DOUBLE)
             / ln(6.0d)"""), 6).as("normalized"))
  }

  /** SAMPLE ENTROPY (m = 2, r = 0.2σ) of one year of daily revenue:
    * B counts template pairs whose 2-windows stay within Chebyshev
    * tolerance r, A the same for 3-windows; SampEn = −ln(A/B). The
    * pair grid is CALENDAR-BOUNDED (≤365²/2 at any corpus size — the
    * qHodgesLehmann contract), the tolerance is one rounded-DECIMAL
    * constant so the ≤ comparisons are exact on both engines, and
    * the counts are plain integers: the only libm call is the final
    * ln on an integer ratio.
    */
  def qSampleEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .filter(year(to_date(col("o_orderdate"))) === 1995)
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val sd = daily.agg(count(lit(1)).as("n"),
      sum(col("rev")).as("sy"),
      sum(col("rev").cast("decimal(19,2)")
        * col("rev").cast("decimal(19,2)")).as("syy"))
      .select(expr(
        """CAST(round(0.2d * sqrt((CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
               / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)), 2)
           AS DECIMAL(18,2))""").as("r"))
    val w = Window.orderBy("day")
    val tpl = daily
      .withColumn("i", row_number().over(w))
      .withColumn("v1", lead(col("rev"), 1).over(w))
      .withColumn("v2", lead(col("rev"), 2).over(w))
      .filter(col("v2").isNotNull)
      .select(col("i"), col("rev").as("v0"), col("v1"), col("v2"))
    val pairs = tpl.alias("a")
      .join(tpl.alias("b"), col("a.i") < col("b.i"))
      .crossJoin(broadcast(sd))
      .select(
        (greatest(abs(col("a.v0") - col("b.v0")),
          abs(col("a.v1") - col("b.v1"))) <= col("r")).as("mb"),
        (greatest(abs(col("a.v0") - col("b.v0")),
          abs(col("a.v1") - col("b.v1")),
          abs(col("a.v2") - col("b.v2"))) <= col("r")).as("ma"),
        col("r"))
    pairs.agg(max(col("r")).cast("double").as("tolerance"),
        sum(when(col("mb"), 1L).otherwise(0L)).as("b_count"),
        sum(when(col("ma"), 1L).otherwise(0L)).as("a_count"))
      .select(col("tolerance"), col("b_count"), col("a_count"),
        round(expr(
          """-ln(CAST(a_count AS DOUBLE) / CAST(b_count AS DOUBLE))"""),
          6).as("sampen"))
  }

  // ---- round-10 batch 19: spectral + structural-break + blocks ----

  /** PERIODOGRAM of the daily-revenue series at five candidate
    * periods (7/30/91/182/365 days): power(p) = (Σ ŷ·cos)² + (Σ ŷ·sin)²
    * over the mean-centered series — the weekly spike should dominate.
    * Determinism: the phase is 2π·(t mod p)/p (bounded argument, no
    * libm range reduction), cos/sin are 9-dp-quantized into DECIMAL
    * before the exact product-sum (the round-ln contract), and the
    * deviations are exact DECIMALs off a once-rounded mean. Five
    * periods × days-sized series — the grid stays calendar-bounded.
    */
  def qPeriodogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val mean = daily.agg(expr(
      """CAST(round(CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
           2) AS DECIMAL(18,2))""").as("mu"),
      count(lit(1)).as("nd"))
    val ts = daily
      .withColumn("t", row_number().over(Window.orderBy("day")) - 1)
      .crossJoin(broadcast(mean))
      .select(col("t"), col("nd"),
        (col("rev") - col("mu")).cast("decimal(19,2)").as("dev"))
    val periods = s.range(0, 5).select(
      when(col("id") === 0, 7).when(col("id") === 1, 30)
        .when(col("id") === 2, 91).when(col("id") === 3, 182)
        .otherwise(365).as("period"))
    ts.crossJoin(broadcast(periods))
      .withColumn("ang", expr(
        """6.283185307179586d * CAST(t % period AS DOUBLE)
           / CAST(period AS DOUBLE)"""))
      .select(col("period"), col("nd"),
        (col("dev") * expr(
          "CAST(round(cos(ang), 9) AS DECIMAL(12,9))")).as("tc"),
        (col("dev") * expr(
          "CAST(round(sin(ang), 9) AS DECIMAL(12,9))")).as("tsn"))
      .groupBy("period")
      .agg(max(col("nd")).cast("long").as("n_days"),
        sum(col("tc")).as("sc"), sum(col("tsn")).as("ss"))
      .select(col("period"), col("n_days"),
        round(expr(
          """(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
             + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
             / CAST(n_days AS DOUBLE)"""), 2).as("power"))
      .orderBy("period")
  }

  /** CHOW TEST for a structural break in the (daily revenue ~ daily
    * order count) regression at 1996-01-01: closed-form SSRs from
    * exact per-segment moment sums (the qLinreg contract — raw
    * moments ADD, so the pooled fit reuses the same two rows),
    * F = ((SSRp − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4)). One grouped
    * aggregate to two rows, one conditional pivot, O(1) double math.
    */
  def qChowTest(s: SparkSession, dir: String): DataFrame = {
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day")
      .agg(count(lit(1)).cast("decimal(12,0)").as("x"),
        sum(col("p")).cast("decimal(19,2)").as("y"))
      .withColumn("seg",
        when(col("day") < lit("1996-01-01").cast("date"), 1)
          .otherwise(2))
    val m = daily.groupBy("seg")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    def ssr(pre: String): String =
      s"""((CAST(${pre}syy AS DOUBLE) - CAST(${pre}sy AS DOUBLE)
             * CAST(${pre}sy AS DOUBLE) / CAST(${pre}n AS DOUBLE))
           - (CAST(${pre}sxy AS DOUBLE) - CAST(${pre}sx AS DOUBLE)
               * CAST(${pre}sy AS DOUBLE) / CAST(${pre}n AS DOUBLE))
             * (CAST(${pre}sxy AS DOUBLE) - CAST(${pre}sx AS DOUBLE)
               * CAST(${pre}sy AS DOUBLE) / CAST(${pre}n AS DOUBLE))
             / (CAST(${pre}sxx AS DOUBLE) - CAST(${pre}sx AS DOUBLE)
               * CAST(${pre}sx AS DOUBLE) / CAST(${pre}n AS DOUBLE)))"""
    m.agg(
        sum(when(col("seg") === 1, col("n"))).as("an"),
        sum(when(col("seg") === 1, col("sx"))).as("asx"),
        sum(when(col("seg") === 1, col("sy"))).as("asy"),
        sum(when(col("seg") === 1, col("sxx"))).as("asxx"),
        sum(when(col("seg") === 1, col("sxy"))).as("asxy"),
        sum(when(col("seg") === 1, col("syy"))).as("asyy"),
        sum(when(col("seg") === 2, col("n"))).as("bn"),
        sum(when(col("seg") === 2, col("sx"))).as("bsx"),
        sum(when(col("seg") === 2, col("sy"))).as("bsy"),
        sum(when(col("seg") === 2, col("sxx"))).as("bsxx"),
        sum(when(col("seg") === 2, col("sxy"))).as("bsxy"),
        sum(when(col("seg") === 2, col("syy"))).as("bsyy"),
        sum(col("n")).as("pn"), sum(col("sx")).as("psx"),
        sum(col("sy")).as("psy"), sum(col("sxx")).as("psxx"),
        sum(col("sxy")).as("psxy"), sum(col("syy")).as("psyy"))
      .withColumn("ssr1", expr(ssr("a")))
      .withColumn("ssr2", expr(ssr("b")))
      .withColumn("ssrp", expr(ssr("p")))
      // raw SSRs are ~1e14-magnitude doubles whose fixed-dp rounding
      // is not engine-stable; emit only O(1) scale-free readouts
      // (slopes, SSR ratio, F) — all safe at 6 dp
      .select(col("an").cast("long").as("n_pre"),
        col("bn").cast("long").as("n_post"),
        round(expr(
          """(CAST(asxy AS DOUBLE) - CAST(asx AS DOUBLE)
               * CAST(asy AS DOUBLE) / CAST(an AS DOUBLE))
             / (CAST(asxx AS DOUBLE) - CAST(asx AS DOUBLE)
               * CAST(asx AS DOUBLE) / CAST(an AS DOUBLE))"""), 6)
          .as("slope_pre"),
        round(expr(
          """(CAST(bsxy AS DOUBLE) - CAST(bsx AS DOUBLE)
               * CAST(bsy AS DOUBLE) / CAST(bn AS DOUBLE))
             / (CAST(bsxx AS DOUBLE) - CAST(bsx AS DOUBLE)
               * CAST(bsx AS DOUBLE) / CAST(bn AS DOUBLE))"""), 6)
          .as("slope_post"),
        round(expr("ssrp / (ssr1 + ssr2)"), 6).as("ssr_ratio"),
        round(expr(
          """((ssrp - (ssr1 + ssr2)) / 2.0d)
             / ((ssr1 + ssr2) / (CAST(an AS DOUBLE)
               + CAST(bn AS DOUBLE) - 4.0d))"""), 6).as("f_stat"))
  }

  /** FRIEDMAN TEST over the month × order-priority revenue grid
    * (1995): within-block midranks from exact DECIMAL comparisons
    * (count-less + half-count-equal — no window-function rank, so
    * ties are handled identically on both engines), then
    * χ²_F = 12/(nk(k+1))·ΣR²ⱼ − 3n(k+1). The grid is 12×5 at ANY
    * corpus size — the blocked nonparametric twin of [[qAnova]].
    */
  def qFriedman(s: SparkSession, dir: String): DataFrame = {
    val cells0 = tbl(s, dir, "orders")
      .filter(year(to_date(col("o_orderdate"))) === 1995)
      .groupBy(month(to_date(col("o_orderdate"))).as("m"),
        col("o_orderpriority").as("trt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
    // Friedman requires COMPLETE blocks: keep only months where every
    // treatment level is observed (at tiny SFs sparse months would
    // otherwise make the uncorrected statistic negative)
    val kAll = cells0.select(countDistinct(col("trt")).as("kk"))
    val complete = cells0.groupBy("m")
      .agg(count(lit(1)).as("nm"))
      .crossJoin(broadcast(kAll))
      .filter(col("nm") === col("kk"))
      .select("m")
    val cells = cells0.join(broadcast(complete), "m")
    val ranks = cells.alias("a")
      .join(cells.alias("b"), col("a.m") === col("b.m"))
      .groupBy(col("a.m").as("m"), col("a.trt").as("trt"))
      .agg(sum(when(col("b.v") < col("a.v"), 1L).otherwise(0L))
          .as("cl"),
        sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L))
          .as("ce"))
      .select(col("m"), col("trt"), expr(
        "CAST(cl AS DOUBLE) + (CAST(ce AS DOUBLE) + 1.0d) / 2.0d")
        .as("r"))
    val rj = ranks.groupBy("trt")
      .agg(sum(col("r")).as("rsum"), count(lit(1)).as("nb"))
    rj.agg(max(col("nb")).cast("long").as("n_blocks"),
        count(lit(1)).cast("long").as("k"),
        sum(col("rsum") * col("rsum")).as("sr2"))
      .select(col("n_blocks"), col("k"),
        round(expr(
          """12.0d * CAST(sr2 AS DOUBLE)
             / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1.0d))
             - 3.0d * CAST(n_blocks AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1.0d)"""), 6).as("chi2_f"),
        (col("k") - 1).cast("long").as("df"))
  }

  // ---- round-10 batch 20: distribution distance + blocked tests ----

  /** 1-WASSERSTEIN (earth mover's) DISTANCE between the 1995 and 1996
    * daily-revenue distributions, via the merged-support CDF
    * integral: W₁ = Σ |F₁(v)−F₂(v)|·Δv over consecutive distinct
    * values. The integrand is kept EXACT as |c₁·n₂ − c₂·n₁|·Δv
    * (integer cross-products, the qKsTest contract) with one final
    * division by n₁n₂ — no floating CDFs, no quantile interpolation,
    * and the merged support is calendar-bounded (≤731 values at any
    * corpus size).
    */
  def qWasserstein(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(year(to_date(col("o_orderdate"))).as("yr"),
        to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .filter(col("yr").isin(1995, 1996))
      .groupBy("yr", "day").agg(sum(col("p")).as("rev"))
    val byVal = daily.groupBy("rev")
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("c1"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("c2"))
    val tot = daily.agg(
      sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n1"),
      sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n2"))
    val w = Window.orderBy("rev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal
      .withColumn("f1", sum(col("c1")).over(w))
      .withColumn("f2", sum(col("c2")).over(w))
      .withColumn("nxt", lead(col("rev"), 1).over(Window.orderBy("rev")))
      .filter(col("nxt").isNotNull)
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        (abs(col("f1") * col("n2") - col("f2") * col("n1"))
          .cast("decimal(18,0)")
          * (col("nxt") - col("rev")).cast("decimal(19,2)"))
          .as("term"))
      .groupBy()
      .agg(max(col("n1")).cast("long").as("n_1995"),
        max(col("n2")).cast("long").as("n_1996"),
        sum(col("term")).as("tsum"))
      .select(col("n_1995"), col("n_1996"),
        round(expr(
          """CAST(tsum AS DOUBLE) / (CAST(n_1995 AS DOUBLE)
             * CAST(n_1996 AS DOUBLE))"""), 4).as("w1_distance"))
  }

  /** CRAMÉR–VON MISES uniformity test of the daily-revenue CENTS
    * distribution (the continuous-tail complement of [[qBenford]]'s
    * leading-digit audit): T = 1/(12n) + Σᵢ(u₍ᵢ₎ − (2i−1)/(2n))².
    * The order statistics are grouped over the 100 distinct cent
    * values and the inner sum is expanded in CLOSED FORM via ΣK with
    * K = 400i − 200 − 2n(2c+1): 6·ΣK² = 160000·P₂ + 2400·D·P₁ +
    * 6·cnt·D² with P₂/P₁ the cube/square prefix-sum identities —
    * pure BIGINT arithmetic over a calendar-bounded series (the
    * Fisher log-factorial prefix-sum discipline), one double
    * division at the end.
    */
  def qCvmUniform(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
      .select((expr("CAST(rev * 100 AS BIGINT)") % 100).as("c"))
      .groupBy("c").agg(count(lit(1)).as("cnt"))
    val tot = cents.agg(sum(col("cnt")).as("n"))
    val w = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents
      .withColumn("hi", sum(col("cnt")).over(w))
      .withColumn("lo", col("hi") - col("cnt"))
      .crossJoin(broadcast(tot))
      .withColumn("d", expr("-200L - 2L * n * (2L * c + 1L)"))
      .withColumn("p2", expr(
        """hi * (hi + 1L) * (2L * hi + 1L)
           - lo * (lo + 1L) * (2L * lo + 1L)"""))
      .withColumn("p1", expr(
        "hi * (hi + 1L) - lo * (lo + 1L)"))
      .withColumn("k6", expr(
        """160000L * p2 + 2400L * d * p1 + 6L * cnt * d * d"""))
      .groupBy()
      .agg(max(col("n")).cast("long").as("n_days"),
        sum(col("k6")).as("k6sum"))
      .select(col("n_days"),
        round(expr(
          """1.0d / (12.0d * CAST(n_days AS DOUBLE))
             + CAST(k6sum AS DOUBLE)
               / (960000.0d * CAST(n_days AS DOUBLE)
                 * CAST(n_days AS DOUBLE))"""), 6).as("t_stat"))
  }

  /** COCHRAN'S Q over the customer × year (1995/96/97) purchase
    * indicator matrix: did the propensity to order change across
    * years, blocked per customer? Q = (k−1)(kΣC²ⱼ − T²)/(kT − ΣR²ᵢ)
    * — every term an exact BIGINT from two aggregates (one per-
    * customer, one global), so the statistic is engine-identical
    * with zero floating intermediates. The k=3 matched-binary
    * extension of [[qMcnemar]].
    */
  def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val flags = tbl(s, dir, "orders")
      .select(col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("yr"))
      .filter(col("yr").isin(1995, 1996, 1997))
      .groupBy("o_custkey")
      .agg(max(when(col("yr") === 1995, 1L).otherwise(0L)).as("i95"),
        max(when(col("yr") === 1996, 1L).otherwise(0L)).as("i96"),
        max(when(col("yr") === 1997, 1L).otherwise(0L)).as("i97"))
    flags.agg(count(lit(1)).as("n_cust"),
        sum(col("i95")).as("c95"), sum(col("i96")).as("c96"),
        sum(col("i97")).as("c97"),
        sum(col("i95") + col("i96") + col("i97")).as("t"),
        sum((col("i95") + col("i96") + col("i97"))
          * (col("i95") + col("i96") + col("i97"))).as("sr2"))
      .select(col("n_cust").cast("long").as("n_cust"),
        col("c95").cast("long").as("c95"),
        col("c96").cast("long").as("c96"),
        col("c97").cast("long").as("c97"),
        round(expr(
          """2.0d * (3.0d * (CAST(c95 AS DOUBLE) * CAST(c95 AS DOUBLE)
               + CAST(c96 AS DOUBLE) * CAST(c96 AS DOUBLE)
               + CAST(c97 AS DOUBLE) * CAST(c97 AS DOUBLE))
             - CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
             / (3.0d * CAST(t AS DOUBLE) - CAST(sr2 AS DOUBLE))"""), 6)
          .as("q_stat"),
        lit(2L).as("df"))
  }

  // ---- round-10 batch 21: graph centrality + chain fixpoints ----

  /** Truncated KATZ CENTRALITY (α = 0.005, 4 steps) over the shared
    * co-supplier edge artifact — walk-volume centrality that rewards
    * raw connectivity where [[qPageRank]] normalizes it away. Rides
    * [[graft.ops.Katz]]'s DECIMAL(28,12) requantized state (byte-
    * identical under any partitioning, unrolled-CTE replayable) and
    * the write-once edge build, so the marginal cost is four
    * join+agg rounds over a parquet read. Top-10 by rounded score.
    */
  def qKatz(s: SparkSession, dir: String): DataFrame = {
    val edges = writtenEdgesTable(s, dir)
    graft.ops.Katz.scores(edges, "src", "dst", iters = 4)
      .select(col("node").as("suppkey"),
        // 12dp-decimal state read out at 8dp lands ON .5 ties: rndDet
        rndDet(col("x").cast("double"), 8).as("katz"))
      .orderBy(col("katz").desc, col("suppkey"))
      .limit(10)
  }

  /** STATIONARY DISTRIBUTION of the event-type Markov chain: the
    * [[qMarkov]] transition matrix (probabilities 9-dp-quantized so
    * both engines iterate the SAME matrix), powered four steps from
    * the uniform start with 12-dp requantized state — the
    * steady-state page-mix readout. The state space is the event-type
    * vocabulary (a handful), so after the one corpus-sized transition
    * count every iteration is a constant-size join.
    */
  /** The 9-dp transition matrix and its 4-step power-iterated
    * stationary vector — the shared kernel behind
    * [[qMarkovStationary]] and [[qEntropyRate]]. Returns
    * (prev_type, next_type, p, pi) where pi is the stationary mass of
    * prev_type after four requantized steps; the caller must not
    * persist across calls (each call builds and releases its own
    * transition cache).
    */
  def markovChain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = tbl(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev_type"))
      .withColumn("next_type", lead(col("prev_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val p = trans
      .withColumn("p", expr(
        """CAST(round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER
             (PARTITION BY prev_type) AS DOUBLE), 9)
           AS DECIMAL(12,9))"""))
      .select(col("prev_type"), col("next_type"), col("p"))
      .persist()
    val states = p.select(col("prev_type").as("state")).distinct()
    val k = states.count()
    require(k > 0, "markovChain: no transitions (empty or 1-event-per-" +
      "user stream) — stationary distribution undefined")
    var pi = states.select(col("state"),
      expr(s"CAST(round(1.0 / $k, 12) AS DECIMAL(28,12))").as("pi"))
    for (_ <- 1 to 4) {
      val stepped = p
        .join(pi.withColumnRenamed("state", "prev_type"), "prev_type")
        .select(col("next_type").as("state"),
          expr("CAST(round(CAST(pi AS DOUBLE) * CAST(p AS DOUBLE), 12) " +
            "AS DECIMAL(28,12))").as("m"))
        .groupBy("state").agg(sum(col("m")).as("pisum"))
      // EAGER on purpose (r16: a lazy variant was tried and REVERTED —
      // measured 1.4–1.7× slower: an eager localCheckpoint's LogicalRDD
      // carries accurate size stats, so the p⋈pi joins stay broadcast;
      // the lazy form loses the stats and the planner falls back to
      // sort-merge. See OPTIMIZATION_r16.md "statistics lesson".)
      pi = states.join(stepped, Seq("state"), "left")
        .select(col("state"),
          expr("CAST(round(CAST(coalesce(pisum, 0) AS DOUBLE), 12) " +
            "AS DECIMAL(28,12))").as("pi"))
        .localCheckpoint(true)
    }
    val out = p.join(pi.withColumnRenamed("state", "prev_type"),
      "prev_type")
      .localCheckpoint(true)
    p.unpersist(blocking = false)
    out
  }

  def qMarkovStationary(s: SparkSession, dir: String): DataFrame =
    markovChain(s, dir)
      .groupBy(col("prev_type").as("state"))
      .agg(round(max(col("pi")).cast("double"), 6).as("pi4"))
      .orderBy("state")

  // ---- round-10 batch 22: ordered alternatives + homogeneity ----

  /** JONCKHEERE–TERPSTRA ordered-alternative test: does order value
    * rise monotonically across the five priority levels? JT sums the
    * Mann–Whitney "lower group beats higher group" counts over every
    * ordered group pair, computed from a (group × price-bucket) COUNT
    * GRID — the qRocAuc distinct-values contract, so the pair join is
    * grid², bounded at any corpus size, never row². Ties (same
    * bucket) count half; mean/variance use the standard no-tie
    * normal approximation (documented) from exact group sizes.
    */
  def qJonckheere(s: SparkSession, dir: String): DataFrame = {
    val grid = tbl(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        floor(col("o_totalprice") / 1000.0d).cast("long").as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
      .persist()
    val jt = grid.alias("a")
      .join(grid.alias("b"), col("a.g") < col("b.g"))
      .agg(sum(when(col("a.b") < col("b.b"),
          col("a.c").cast("decimal(19,0)")
            * col("b.c").cast("decimal(19,0)")).otherwise(lit(0L)))
          .as("w"),
        sum(when(col("a.b") === col("b.b"),
          col("a.c").cast("decimal(19,0)")
            * col("b.c").cast("decimal(19,0)")).otherwise(lit(0L)))
          .as("ties"))
    val sizes = grid.groupBy("g").agg(sum(col("c")).as("ng"))
      .agg(sum(col("ng")).as("n"),
        sum(col("ng") * col("ng")).as("sn2"),
        sum(col("ng") * col("ng")
          * (lit(2L) * col("ng") + lit(3L))).as("sn23"))
    val out = jt.crossJoin(broadcast(sizes))
      .select(
        (col("w").cast("double") + col("ties").cast("double") / 2.0d)
          .as("jt_stat"),
        col("n").cast("long").as("n"),
        expr("""(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(sn2 AS DOUBLE)) / 4.0d""").as("e_jt"),
        expr("""(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            * (2.0d * CAST(n AS DOUBLE) + 3.0d)
            - CAST(sn23 AS DOUBLE)) / 72.0d""").as("v_jt"))
      .select(col("n"), round(col("jt_stat"), 1).as("jt_stat"),
        round(col("e_jt"), 1).as("e_jt"),
        round(expr("(jt_stat - e_jt) / sqrt(v_jt)"), 6).as("z"))
    grid.unpersist(blocking = false)
    out
  }

  /** PAGE'S L TREND TEST over the (complete-block) month × priority
    * rank grid: L = Σ j·Rⱼ with j the a-priori priority order — the
    * directional sharpening of [[qFriedman]], sharing its join-counted
    * midranks. Standardization uses the exact no-tie moments
    * E(L) = nk(k+1)²/4, Var(L) = n k²(k+1)(k²−1)/144.
    */
  def qPageTrend(s: SparkSession, dir: String): DataFrame = {
    val cells0 = tbl(s, dir, "orders")
      .filter(year(to_date(col("o_orderdate"))) === 1995)
      .groupBy(month(to_date(col("o_orderdate"))).as("m"),
        col("o_orderpriority").as("trt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
    val kAll = cells0.select(countDistinct(col("trt")).as("kk"))
    val complete = cells0.groupBy("m")
      .agg(count(lit(1)).as("nm"))
      .crossJoin(broadcast(kAll))
      .filter(col("nm") === col("kk"))
      .select("m")
    val cells = cells0.join(broadcast(complete), "m")
    val ranks = cells.alias("a")
      .join(cells.alias("b"), col("a.m") === col("b.m"))
      .groupBy(col("a.m").as("m"), col("a.trt").as("trt"))
      .agg(sum(when(col("b.v") < col("a.v"), 1L).otherwise(0L))
          .as("cl"),
        sum(when(col("b.v") === col("a.v"), 1L).otherwise(0L))
          .as("ce"))
      .select(col("m"), col("trt"), expr(
        "CAST(cl AS DOUBLE) + (CAST(ce AS DOUBLE) + 1.0d) / 2.0d")
        .as("r"))
    val rj = ranks.groupBy("trt")
      .agg(sum(col("r")).as("rsum"), count(lit(1)).as("nb"))
      .withColumn("j", expr("CAST(substring(trt, 1, 1) AS DOUBLE)"))
    rj.agg(max(col("nb")).cast("long").as("n_blocks"),
        count(lit(1)).cast("long").as("k"),
        sum(col("j") * col("rsum")).as("l_stat"))
      .select(col("n_blocks"), col("k"),
        round(col("l_stat"), 1).as("l_stat"),
        round(expr(
          """(l_stat - CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) + 1.0d)
               * (CAST(k AS DOUBLE) + 1.0d) / 4.0d)
             / sqrt(CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
               * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0d)
               * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0d)
               / 144.0d)"""), 6).as("z"))
  }

  /** BARTLETT'S TEST for variance homogeneity of quantity across
    * return flags: χ² = [(N−k)·ln s²ₚ − Σ(nᵢ−1)·ln s²ᵢ]/C from exact
    * per-group moment sums. Every ln is 9-dp-quantized before the
    * k-term combination (the repo libm contract) so the statistic is
    * engine-identical; one grouped aggregate, k-row downstream.
    */
  def qBartlett(s: SparkSession, dir: String): DataFrame = {
    val m = tbl(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast("decimal(12,2)").as("x"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      // per-group terms are QUANTIZED to DECIMAL before the k-term
      // sum so cross-group aggregation order can never perturb them
      .withColumn("ss", expr(
        """CAST(round(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
           * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)
           AS DECIMAL(28,6))"""))
      .withColumn("lnsi", expr(
        """CAST(round(ln(CAST(ss AS DOUBLE)
           / (CAST(n AS DOUBLE) - 1.0d)), 9) AS DECIMAL(18,9))"""))
      .withColumn("inv", expr(
        """CAST(round(1.0d / (CAST(n AS DOUBLE) - 1.0d), 12)
           AS DECIMAL(18,12))"""))
    m.agg(sum(col("n")).cast("long").as("nn"),
        count(lit(1)).cast("long").as("k"),
        sum(col("ss")).as("ssp"),
        sum((col("n") - 1).cast("decimal(18,0)") * col("lnsi"))
          .as("slns"),
        sum(col("inv")).as("sinv"))
      .withColumn("lnsp", expr(
        """CAST(round(ln(CAST(ssp AS DOUBLE) / (CAST(nn AS DOUBLE)
           - CAST(k AS DOUBLE))), 9) AS DECIMAL(18,9))"""))
      .select(col("nn").as("n"), col("k"),
        round(expr(
          """((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
               * CAST(lnsp AS DOUBLE) - CAST(slns AS DOUBLE))
             / (1.0d + (CAST(sinv AS DOUBLE)
               - 1.0d / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
               / (3.0d * (CAST(k AS DOUBLE) - 1.0d)))"""), 6)
          .as("chi2"),
        (col("k") - 1).cast("long").as("df"))
  }

  // ---- round-10 batch 23: regression diagnostics ----

  /** Once-rounded OLS constants for the (price ~ quantity) fit —
    * slope and intercept quantized to DECIMAL(18,6) so every
    * residual-based diagnostic downstream works off the SAME frozen
    * line on both engines (the qPerplexity rounded-constant
    * contract). One moment pass, 1-row broadcast.
    */
  def olsLineConsts(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_quantity").cast("decimal(12,2)").as("x"),
        col("l_extendedprice").cast("decimal(14,2)").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n"), col("sx"), col("sxx"),
        expr("""CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
          AS DECIMAL(18,6))""").as("b"),
        expr("""CAST(round((CAST(sy AS DOUBLE)
            - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
          AS DECIMAL(18,6))""").as("a"))

  /** BREUSCH–PAGAN (Koenker) heteroskedasticity test: regress the
    * squared residuals of the frozen [[olsLineConsts]] line on x and
    * report LM = n·R²_aux. Residuals are exact DECIMALs off the
    * rounded line, squared residuals are 2-dp-requantized before the
    * moment pass (every sum exact, engine-identical), and the aux R²
    * is closed form — two corpus passes, zero iterative fitting.
    */
  def qBreuschPagan(s: SparkSession, dir: String): DataFrame = {
    val consts = olsLineConsts(s, dir)
    // fanout (r17, guide §2.5): the per-row decimal residual battery is
    // the q_cooks_distance shape the r16 sweep missed — single-split
    // scan pinning the amplifying stage to one task; shuffles only the
    // (x, y) pre-amplification pairs, no-op at real split counts
    val res = fanout(tbl(s, dir, "lineitem")
      .select(col("l_quantity").cast("decimal(12,2)").as("x"),
        col("l_extendedprice").cast("decimal(14,2)").as("y")))
      .crossJoin(broadcast(consts.select(col("a"), col("b"))))
      .withColumn("e2", expr(
        """CAST(round(CAST(y - (a + b * x) AS DOUBLE)
           * CAST(y - (a + b * x) AS DOUBLE), 2) AS DECIMAL(19,2))"""))
    res.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("e2")).as("se"),
        sum(col("x") * col("e2")).as("sxe"),
        // (18,2)x(18,2) -> (37,4): stays exact under Spark's 38-digit
        // cap (the DuckDB twin uses (19,2) for its hugeint path; the
        // VALUES are identical either way)
        sum(col("e2").cast("decimal(18,2)")
          * col("e2").cast("decimal(18,2)")).as("see"))
      .select(col("n").cast("long").as("n"),
        round(expr(
          """CAST(n AS DOUBLE)
             * ((CAST(sxe AS DOUBLE) - CAST(sx AS DOUBLE)
                 * CAST(se AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sxe AS DOUBLE) - CAST(sx AS DOUBLE)
                 * CAST(se AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                 * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(see AS DOUBLE) - CAST(se AS DOUBLE)
                 * CAST(se AS DOUBLE) / CAST(n AS DOUBLE)))"""), 6)
          .as("lm_stat"),
        lit(1L).as("df"))
  }

  /** COOK'S DISTANCE top-10 for the frozen (price ~ quantity) line:
    * leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx, Dᵢ = eᵢ²·hᵢ/(2s²(1−hᵢ)²) —
    * the single-pass influence audit. All per-row terms are doubles
    * off broadcast exact moments and the once-rounded line; the
    * top-10 rides a TakeOrdered head with full key tie-break.
    */
  def qCooksDistance(s: SparkSession, dir: String): DataFrame = {
    val consts = olsLineConsts(s, dir)
    // fanout (r16): two full decimal-residual passes over lineitem run
    // downstream of this scan — without it both are pinned to the one
    // task the single-row-group fixture file allows
    val res = fanout(tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(12,2)").as("x"),
          col("l_extendedprice").cast("decimal(14,2)").as("y")))
      .crossJoin(broadcast(consts))
      .withColumn("e2", expr(
        """CAST(round(CAST(y - (a + b * x) AS DOUBLE)
           * CAST(y - (a + b * x) AS DOUBLE), 2) AS DECIMAL(19,2))"""))
    val ssr = res.agg(max(col("n")).as("n"), max(col("sx")).as("sx"),
      max(col("sxx")).as("sxx"), sum(col("e2")).as("sse"))
    res.crossJoin(broadcast(ssr.select(
        expr("CAST(n AS DOUBLE)").as("nd"),
        expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("xbar"),
        expr("""CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
          * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)""").as("csxx"),
        expr("""CAST(sse AS DOUBLE)
          / (CAST(n AS DOUBLE) - 2.0d)""").as("s2"))))
      .withColumn("h", expr(
        """1.0d / nd + (CAST(x AS DOUBLE) - xbar)
           * (CAST(x AS DOUBLE) - xbar) / csxx"""))
      .withColumn("d_cook", round(expr(
        """CAST(e2 AS DOUBLE) * h
           / (2.0d * s2 * (1.0d - h) * (1.0d - h))"""), 9))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("x").cast("double").as("quantity"),
        col("d_cook"), round(col("h"), 9).as("leverage"))
      .orderBy(col("d_cook").desc, col("l_orderkey"),
        col("l_linenumber"))
      .limit(10)
  }

  /** INTRACLASS CORRELATION ICC(1,1) of order value within priority
    * groups (one-way random effects, unequal group sizes via the k₀
    * correction): ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW). Raw-moment
    * algebra over one grouped pass; only scale-free readouts (ICC
    * and the F ratio) are emitted — never raw mean squares (the
    * qChowTest magnitude lesson).
    */
  def qIcc(s: SparkSession, dir: String): DataFrame = {
    val g = tbl(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("ng"), sum(col("y")).as("sy"),
        sum(col("y").cast("decimal(18,2)")
          * col("y").cast("decimal(18,2)")).as("syy"))
      // per-group between/within pieces quantized before the k-term
      // sum (the qBartlett ordering contract)
      .withColumn("bg", expr(
        """CAST(round(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
           / CAST(ng AS DOUBLE), 4) AS DECIMAL(28,4))"""))
    g.agg(sum(col("ng")).cast("long").as("n"),
        count(lit(1)).cast("long").as("k"),
        sum(col("ng") * col("ng")).as("sn2"),
        sum(col("sy")).as("sy"), sum(col("syy")).as("syy"),
        sum(col("bg")).as("sbg"))
      .withColumn("ssb", expr(
        """CAST(sbg AS DOUBLE) - CAST(sy AS DOUBLE)
           * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"""))
      .withColumn("ssw", expr(
        "CAST(syy AS DOUBLE) - CAST(sbg AS DOUBLE)"))
      .withColumn("msb", expr("ssb / (CAST(k AS DOUBLE) - 1.0d)"))
      .withColumn("msw", expr(
        "ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))"))
      .withColumn("k0", expr(
        """(CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE)
           / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0d)"""))
      .select(col("n"), col("k"),
        round(expr("msb / msw"), 6).as("f_ratio"),
        round(expr(
          "(msb - msw) / (msb + (k0 - 1.0d) * msw)"), 6).as("icc"))
  }

  // ---- round-10 batch 24: time-series structure tests ----

  /** VARIANCE RATIO TEST (Lo–MacKinlay shape, q = 5) on daily revenue
    * CHANGES: VR = Var(5-day change)/(5·Var(1-day change)) — the
    * random-walk diagnostic (VR ≈ 1 under iid increments, < 1 under
    * mean reversion). Both difference series are exact DECIMALs from
    * calendar-bounded lag windows; variances come from exact moment
    * sums (one (18,2)² pass each), so the ratio is engine-identical
    * at 6 dp. Complements [[qAdfTest]]/[[qHurst]] with the
    * variance-scaling view.
    */
  def qVarianceRatio(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val w = Window.orderBy("day")
    val diffs = daily
      .withColumn("x", (col("rev") - lag(col("rev"), 1).over(w))
        .cast("decimal(18,2)"))
      .withColumn("y", (col("rev") - lag(col("rev"), 5).over(w))
        .cast("decimal(18,2)"))
    def varOf(c: String): Column = expr(
      s"""(CAST(s${c}2 AS DOUBLE) - CAST(s$c AS DOUBLE)
            * CAST(s$c AS DOUBLE) / CAST(n$c AS DOUBLE))
          / CAST(n$c AS DOUBLE)""")
    diffs.agg(
        sum(when(col("x").isNotNull, 1L)).as("nx"),
        sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(18,2)")
          * col("x").cast("decimal(18,2)")).as("sx2"),
        sum(when(col("y").isNotNull, 1L)).as("ny"),
        sum(col("y")).as("sy"),
        sum(col("y").cast("decimal(18,2)")
          * col("y").cast("decimal(18,2)")).as("sy2"))
      .select(col("nx").cast("long").as("n_1d"),
        col("ny").cast("long").as("n_5d"),
        round(varOf("y") / (lit(5.0d) * varOf("x")), 6)
          .as("variance_ratio"))
  }

  /** SPECTRAL ENTROPY of the daily-revenue series: normalized Shannon
    * entropy of the [[qPeriodogram]] power distribution over periods
    * 2..30 — low when one cycle dominates (structured series), near 1
    * for white noise. Powers reuse the bounded-phase 9-dp trig
    * quantization (identical doubles on both engines); each p·ln p
    * term is 9-dp-requantized before the 29-term sum (the qBartlett
    * ordering contract).
    */
  def qSpectralEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
    val mean = daily.agg(expr(
      """CAST(round(CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
           2) AS DECIMAL(18,2))""").as("mu"))
    val ts = daily
      .withColumn("t", row_number().over(Window.orderBy("day")) - 1)
      .crossJoin(broadcast(mean))
      .select(col("t"),
        (col("rev") - col("mu")).cast("decimal(19,2)").as("dev"))
    val periods = s.range(2, 31).select(col("id").as("period"))
    val pw = ts.crossJoin(broadcast(periods))
      .withColumn("ang", expr(
        """6.283185307179586d * CAST(t % period AS DOUBLE)
           / CAST(period AS DOUBLE)"""))
      .select(col("period"),
        (col("dev") * expr(
          "CAST(round(cos(ang), 9) AS DECIMAL(12,9))")).as("tc"),
        (col("dev") * expr(
          "CAST(round(sin(ang), 9) AS DECIMAL(12,9))")).as("tsn"))
      .groupBy("period")
      .agg(sum(col("tc")).as("sc"), sum(col("tsn")).as("ss"))
      .select(col("period"), expr(
        """CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
           + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)""").as("pw"))
    val tot = pw.agg(sum(expr(
      "CAST(round(pw, 2) AS DECIMAL(38,2))")).as("ptot"))
    pw.crossJoin(broadcast(tot))
      .select(expr(
        """CAST(round(pw / CAST(ptot AS DOUBLE)
             * ln(pw / CAST(ptot AS DOUBLE)), 9)
           AS DECIMAL(18,9))""").as("term"))
      .groupBy()
      .agg(count(lit(1)).cast("long").as("n_freqs"),
        sum(col("term")).as("tsum"))
      .select(col("n_freqs"),
        round(expr("-CAST(tsum AS DOUBLE)"), 6).as("entropy"),
        round(expr(
          """-CAST(tsum AS DOUBLE)
             / ln(CAST(n_freqs AS DOUBLE))"""), 6).as("normalized"))
  }

  /** TURNING-POINTS RANDOMNESS TEST on daily revenue: count local
    * peaks and troughs; under iid the count is asymptotically normal
    * with E = 2(n−2)/3, Var = (16n−29)/90 — the order-pattern
    * complement of [[qRunsTest]] (which sees only signs, not shape).
    * Pure integer counting over calendar-bounded lag windows.
    */
  def qTurningPoints(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
    val daily = tbl(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
      .withColumn("prv", lag(col("rev"), 1).over(w))
      .withColumn("nxt", lead(col("rev"), 1).over(w))
      .filter(col("prv").isNotNull && col("nxt").isNotNull)
    daily.agg(count(lit(1)).cast("long").as("n_interior"),
        sum(when((col("rev") > col("prv") && col("rev") > col("nxt"))
          || (col("rev") < col("prv") && col("rev") < col("nxt")),
          1L).otherwise(0L)).cast("long").as("turning_points"))
      .select(col("n_interior"), col("turning_points"),
        round(expr(
          """(CAST(turning_points AS DOUBLE)
             - 2.0d * CAST(n_interior AS DOUBLE) / 3.0d)
             / sqrt((16.0d * (CAST(n_interior AS DOUBLE) + 2.0d)
               - 29.0d) / 90.0d)"""), 6).as("z"))
  }

  // ---- round-10 batch 25: stratified association + inequality ----

  /** MANTEL–HAENSZEL common odds ratio across nation strata: does the
    * BUILDING-segment → high-balance association hold after
    * controlling for nation? Per-stratum 2×2 cells are exact integer
    * counts; each a·d/n and b·c/n term is 9-dp-quantized before the
    * stratum sum (the qBartlett ordering contract), so
    * OR_MH = Σaᵢdᵢ/nᵢ / Σbᵢcᵢ/nᵢ is engine-identical. The
    * confounder-adjusted upgrade of [[qOddsRatio]].
    */
  def qMantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val cells = tbl(s, dir, "customer")
      .select(col("c_nationkey").as("strat"),
        (col("c_mktsegment") === "BUILDING").as("expo"),
        (col("c_acctbal") > 5000.0d).as("hi"))
      .groupBy("strat")
      .agg(sum(when(col("expo") && col("hi"), 1L).otherwise(0L))
          .as("a"),
        sum(when(col("expo") && !col("hi"), 1L).otherwise(0L))
          .as("b"),
        sum(when(!col("expo") && col("hi"), 1L).otherwise(0L))
          .as("c"),
        sum(when(!col("expo") && !col("hi"), 1L).otherwise(0L))
          .as("d"))
      .withColumn("n", expr("a + b + c + d"))
      .withColumn("tad", expr(
        """CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           / CAST(n AS DOUBLE), 9) AS DECIMAL(28,9))"""))
      .withColumn("tbc", expr(
        """CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           / CAST(n AS DOUBLE), 9) AS DECIMAL(28,9))"""))
    cells.agg(count(lit(1)).cast("long").as("n_strata"),
        sum(col("a")).cast("long").as("n_exposed_hi"),
        sum(col("tad")).as("sad"), sum(col("tbc")).as("sbc"))
      .select(col("n_strata"), col("n_exposed_hi"),
        round(expr(
          "CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE)"), 6)
          .as("or_mh"))
  }

  /** ATKINSON INEQUALITY INDEX (ε = 1) of per-customer spend:
    * A = 1 − geomean/mean, with the geometric mean carried in LOG
    * space via the round-ln-to-9dp exact-DECIMAL-sum contract — the
    * welfare-weighted complement of [[qLorenz]]'s Gini readout.
    */
  def qAtkinson(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
    spend.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(expr(
          """CAST(round(ln(CAST(y AS DOUBLE)), 9)
             AS DECIMAL(18,9))""")).as("slny"))
      .select(col("n").cast("long").as("n_cust"),
        round(expr(
          """1.0d - exp(CAST(slny AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"""), 6)
          .as("atkinson_1"))
  }

  /** RICH-CLUB COEFFICIENT over the co-supplier graph at degree
    * thresholds 2/5/10: φ(k) = E_k / (n_k(n_k−1)) on the symmetric
    * edge set — do high-degree suppliers preferentially interconnect?
    * Degrees come off the shared write-once edge artifact; each
    * threshold is one broadcast-semijoin count, so the whole curve is
    * three counts over one parquet read (never a recomputation of
    * the edge build).
    */
  def qRichClub(s: SparkSession, dir: String): DataFrame = {
    val e = writtenEdgesTable(s, dir)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val ks = s.range(0, 3).select(
      when(col("id") === 0, 2L).when(col("id") === 1, 5L)
        .otherwise(10L).as("k"))
    val nk = ks.join(
      deg.crossJoin(broadcast(ks))
        .filter(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt")),
      Seq("k"), "left")
      .select(col("k"), coalesce(col("cnt"), lit(0L)).as("n_k"))
    val ek = e
      .join(broadcast(deg.withColumnRenamed("src", "s2")
          .withColumnRenamed("deg", "dsrc")),
        col("src") === col("s2"))
      .join(broadcast(deg.withColumnRenamed("src", "d2")
          .withColumnRenamed("deg", "ddst")),
        col("dst") === col("d2"))
      .crossJoin(broadcast(ks.withColumnRenamed("k", "kk")))
      .filter(col("dsrc") > col("kk") && col("ddst") > col("kk"))
      .groupBy(col("kk").as("k")).agg(count(lit(1)).as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k"), col("n_k").cast("long").as("n_k"),
        coalesce(col("e_k"), lit(0L)).cast("long").as("e_k"),
        round(expr(
          """CASE WHEN n_k > 1 THEN CAST(coalesce(e_k, 0) AS DOUBLE)
             / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1.0d))
             ELSE 0.0d END"""), 6).as("phi"))
      .orderBy("k")
  }

  // ---- round-10 batch 26: scoring + robust scale + index numbers ----

  /** BRIER SCORE + EXPECTED/MAXIMUM CALIBRATION ERROR for the
    * [[qCalibration]] score (n_chars/1000 capped vs lang = 'en'):
    * Brier = Σ(sc − 1000·hit)²/(10⁶n) is PURE INTEGER arithmetic
    * until one division; ECE folds the per-bin |mean_score −
    * obs_rate| gaps exactly as Σ|ssumᵦ − 1000·hitsᵦ|/(1000n). The
    * scalar roll-ups of the calibration curve — one corpus scan, a
    * 10-bin grid downstream.
    */
  def qBrierEce(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .select(expr("least(CAST(n_chars AS BIGINT) DIV 100, 9)")
          .as("bin"),
        expr("least(CAST(n_chars AS BIGINT), 1000)").as("sc"),
        when(col("lang") === "en", 1L).otherwise(0L).as("hit"))
    val bins = scored.groupBy("bin")
      .agg(count(lit(1)).as("nb"), sum(col("sc")).as("ssum"),
        sum(col("hit")).as("hits"),
        sum((col("sc") - lit(1000L) * col("hit"))
          * (col("sc") - lit(1000L) * col("hit"))).as("sqsum"))
    bins.agg(sum(col("nb")).cast("long").as("n_docs"),
        sum(col("sqsum")).as("sq"),
        sum(abs(col("ssum") - lit(1000L) * col("hits"))).as("gaps"),
        max(expr(
          """abs(CAST(ssum - 1000 * hits AS DOUBLE))
             / (1000.0d * CAST(nb AS DOUBLE))""")).as("mce0"))
      .select(col("n_docs"),
        round(expr(
          """CAST(sq AS DOUBLE)
             / (1000000.0d * CAST(n_docs AS DOUBLE))"""), 6)
          .as("brier"),
        round(expr(
          """CAST(gaps AS DOUBLE)
             / (1000.0d * CAST(n_docs AS DOUBLE))"""), 6).as("ece"),
        round(col("mce0"), 6).as("mce"))
  }

  /** MATTHEWS CORRELATION + YOUDEN'S J + BALANCED ACCURACY for the
    * [[qConfusion]] threshold classifier — the prevalence-robust
    * scalar trio that precision/recall hide. Four exact counts in,
    * three identical-text double formulas out.
    */
  def qMcc(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select((col("n_chars") >= 500).as("pred"),
        (col("lang") === "en").as("truth"))
      .agg(sum(when(col("pred") && col("truth"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred") && !col("truth"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("pred") && col("truth"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!col("pred") && !col("truth"), 1L).otherwise(0L))
          .as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(expr(
          """(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
             - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
             / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
               * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
               * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
               * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))"""), 6)
          .as("mcc"),
        round(expr(
          """CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
               + CAST(fn AS DOUBLE))
             + CAST(tn AS DOUBLE) / (CAST(tn AS DOUBLE)
               + CAST(fp AS DOUBLE)) - 1.0d"""), 6).as("youden_j"),
        round(expr(
          """(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
               + CAST(fn AS DOUBLE))
             + CAST(tn AS DOUBLE) / (CAST(tn AS DOUBLE)
               + CAST(fp AS DOUBLE))) / 2.0d"""), 6)
          .as("balanced_acc"))

  /** SIEGEL REPEATED-MEDIAN SLOPE per event type: median over points
    * of the per-point median pairwise slope — a 50% breakdown-point
    * upgrade of [[qTheilSen]] (which breaks at 29%). Same
    * calendar-bounded pair grid and 9-dp slope quantization; two
    * nested exact percentile_disc passes.
    */
  def qSiegelSlopes(s: SparkSession, dir: String): DataFrame = {
    val daily = tbl(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,6)").as("x"))
      .groupBy("event_type", "day")
      .agg(expr("""CAST(round(CAST(sum(x) AS DOUBLE)
          / CAST(count(1) AS DOUBLE), 6) AS DECIMAL(18,6))""").as("y"))
    val a = daily.select(col("event_type"), col("day").as("day_a"),
      col("y").as("ya"))
    val b = daily.select(col("event_type").as("et_b"),
      col("day").as("day_b"), col("y").as("yb"))
    val slopes = a.join(b, col("event_type") === col("et_b")
        && col("day_a") =!= col("day_b"))
      .select(col("event_type"), col("day_a"), expr(
        """CAST(round(CAST(yb - ya AS DOUBLE)
             / CAST(datediff(day_b, day_a) AS DOUBLE), 9)
           AS DECIMAL(18,9))""").as("slope"))
    slopes.createOrReplaceTempView("siegel_slopes_v")
    s.sql(
      """WITH perpoint AS (SELECT event_type, day_a,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) AS ms
           FROM siegel_slopes_v GROUP BY event_type, day_a)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           round(CAST(percentile_disc(0.5)
             WITHIN GROUP (ORDER BY ms) AS DOUBLE), 9)
             AS siegel_slope
         FROM perpoint GROUP BY event_type ORDER BY event_type""")
  }

  /** Qn-STYLE ROBUST SCALE of one year of daily revenue: the first
    * quartile of pairwise absolute differences (Rousseeuw–Croux's
    * outlier-immune spread), scaled by the Gaussian-consistency
    * constant 2.21914. One YEAR of days (the qSampleEntropy window
    * contract) keeps the pair multiset ≤365²/2 at any corpus size,
    * the diffs stay exact DECIMAL into ONE percentile_disc
    * evaluation, and the scaled readout derives from the same
    * aggregate — never a second pass over the pair grid.
    */
  def qQnScale(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .filter(year(to_date(col("o_orderdate"))) === 1995)
      .select(to_date(col("o_orderdate")).as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy("day").agg(sum(col("p")).as("rev"))
      .withColumn("i", row_number().over(Window.orderBy("day")))
    val pairs = daily.alias("a")
      .join(daily.alias("b"), col("a.i") < col("b.i"))
      .select(abs(col("a.rev") - col("b.rev")).as("d"))
    pairs.createOrReplaceTempView("qn_pairs_v")
    s.sql(
      """SELECT n_pairs, qn_raw,
           round(2.21914d * qn_raw, 2) AS qn_scaled
         FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             round(CAST(percentile_disc(0.25)
               WITHIN GROUP (ORDER BY d) AS DOUBLE), 2) AS qn_raw
           FROM qn_pairs_v)""")
  }

  /** PAASCHE AND FISHER PRICE INDEXES by ship year (base 1995) — the
    * current-weighted dual and geometric ideal that complete
    * [[qPriceIndex]]'s Laspeyres: same once-rounded per-part prices,
    * exact DECIMAL basket products, one part-keyed join, three
    * divisions per year.
    */
  def qFisherIndex(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select(year(col("l_shipdate")).cast("long").as("yr"),
        col("l_partkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("ep"),
        col("l_quantity").cast("decimal(12,2)").as("q"))
    val all = li.groupBy("yr", "l_partkey")
      .agg(expr(
        """CAST(round(CAST(sum(ep) AS DOUBLE) / CAST(sum(q) AS DOUBLE),
             6) AS DECIMAL(18,6))""").as("avgp"),
        sum(col("q")).cast("decimal(19,2)").as("qty"))
    val base = all.filter(col("yr") === 1995L)
      .select(col("l_partkey"), col("avgp").as("pb"),
        col("qty").as("qb"))
    all.join(base, "l_partkey")
      .groupBy("yr")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("avgp") * col("qb")).as("lnum"),
        sum(col("pb") * col("qb")).as("lden"),
        sum(col("avgp") * col("qty")).as("pnum"),
        sum(col("pb") * col("qty")).as("pden"))
      .select(col("yr"), col("n_parts"),
        round(expr(
          "CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE)"), 6)
          .as("laspeyres"),
        round(expr(
          "CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE)"), 6)
          .as("paasche"),
        round(expr(
          """sqrt(CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE)
             * (CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE)))"""), 6)
          .as("fisher"))
      .orderBy("yr")
  }

  // ---- round-10 batch 27: serial structure + seasonal strength ----

  /** PARTIAL AUTOCORRELATION (lags 1–3) of daily revenue via the
    * Durbin–Levinson recursion over mean-centered ACF estimates:
    * the AR-order fingerprint [[qAutocorr]]'s raw correlations can't
    * give. Deviations are exact DECIMALs off a once-rounded mean, the
    * three lag cross-sums are exact, and the recursion is O(1)
    * identical-text double algebra.
    */
  def qPacf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dailyRevenue(s, dir)
    val m = d.agg(expr(
      """CAST(round(CAST(sum(rev) AS DOUBLE) / count(1), 6)
         AS DECIMAL(18,6))""").as("mu"))
    val w = Window.orderBy("day")
    val dev = d.crossJoin(broadcast(m))
      .select(col("day"),
        (col("rev") - col("mu")).cast("decimal(18,6)").as("e"))
      .withColumn("e1", lag(col("e"), 1).over(w))
      .withColumn("e2", lag(col("e"), 2).over(w))
      .withColumn("e3", lag(col("e"), 3).over(w))
    val cs = dev.agg(count(lit(1)).cast("long").as("n"),
      sum(col("e") * col("e")).as("c0"),
      sum(col("e") * col("e1")).as("c1"),
      sum(col("e") * col("e2")).as("c2"),
      sum(col("e") * col("e3")).as("c3"))
    cs.withColumn("r1", expr("CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)"))
      .withColumn("r2", expr("CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE)"))
      .withColumn("r3", expr("CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE)"))
      .withColumn("p2", expr("(r2 - r1 * r1) / (1.0d - r1 * r1)"))
      .withColumn("a21", expr("r1 * (1.0d - p2)"))
      .select(col("n"),
        round(col("r1"), 6).as("acf1"),
        round(col("r2"), 6).as("acf2"),
        round(col("r3"), 6).as("acf3"),
        round(col("r1"), 6).as("pacf1"),
        round(col("p2"), 6).as("pacf2"),
        round(expr(
          """(r3 - a21 * r2 - p2 * r1)
             / (1.0d - a21 * r1 - p2 * r2)"""), 6).as("pacf3"))
  }

  /** SEASONAL STRENGTH Fs = max(0, 1 − Var(resid)/Var(detrended)) of
    * the weekly cycle: the scalar that says how much of the
    * detrended variance the weekday profile explains. Everything is
    * carried at 7× scale (7·rev − centered-7-day-sum) so the
    * detrended series is EXACT DECIMAL with no division; the weekday
    * profile is rounded once, and the variance ratio is scale-
    * invariant identical-text double math.
    */
  def qSeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val det = dailyRevenue(s, dir)
      .withColumn("ms", sum(col("rev")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") === 7)
      .select(col("day"),
        (col("rev") * lit(7) - col("ms")).cast("decimal(19,2)")
          .as("d7"))
      .withColumn("wd", dayofweek(col("day")))
    val prof = det.groupBy("wd")
      .agg(expr("""CAST(round(CAST(sum(d7) AS DOUBLE)
          / CAST(count(1) AS DOUBLE), 2) AS DECIMAL(18,2))""")
        .as("s7"))
    val joined = det.join(broadcast(prof), "wd")
      .select(col("d7"),
        (col("d7") - col("s7")).cast("decimal(19,2)").as("r7"))
    joined.agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("d7")).as("sd"), sum(col("r7")).as("sr"),
        sum(col("d7").cast("decimal(18,2)")
          * col("d7").cast("decimal(18,2)")).as("sdd"),
        sum(col("r7").cast("decimal(18,2)")
          * col("r7").cast("decimal(18,2)")).as("srr"))
      .select(col("n_days"),
        round(expr(
          """greatest(0.0d, 1.0d
             - (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
                 * CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE))
               / (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)
                 * CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE)))"""),
          6).as("seasonal_strength"))
  }

  /** MOOD'S MEDIAN TEST across order priorities: classify every order
    * against the exact global median (percentile_disc — a real
    * element, engine-identical), then the k×2 chi-square on the
    * above/at-or-below grid. The median-based k-sample test that
    * stays valid under heavy tails where [[qAnova]] breaks; pure
    * integer counts until the final statistic.
    */
  def qMoodsMedian(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
    o.createOrReplaceTempView("moods_orders_v")
    val med = s.sql(
      """SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY y) AS med
         FROM moods_orders_v""")
    val cells = o.crossJoin(broadcast(med))
      .groupBy("g")
      .agg(sum(when(col("y") > col("med"), 1L).otherwise(0L))
          .as("ab"),
        sum(when(col("y") <= col("med"), 1L).otherwise(0L))
          .as("be"))
    val tot = cells.agg(sum(col("ab")).as("ta"), sum(col("be")).as("tb"))
    cells.crossJoin(broadcast(tot))
      .select(col("g"), col("ab"), col("be"), col("ta"), col("tb"),
        expr(
          """CAST(round(
               (CAST(ab AS DOUBLE) - CAST(ab + be AS DOUBLE)
                 * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
               * (CAST(ab AS DOUBLE) - CAST(ab + be AS DOUBLE)
                 * CAST(ta AS DOUBLE) / CAST(ta + tb AS DOUBLE))
               / (CAST(ab + be AS DOUBLE) * CAST(ta AS DOUBLE)
                 / CAST(ta + tb AS DOUBLE))
             + (CAST(be AS DOUBLE) - CAST(ab + be AS DOUBLE)
                 * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
               * (CAST(be AS DOUBLE) - CAST(ab + be AS DOUBLE)
                 * CAST(tb AS DOUBLE) / CAST(ta + tb AS DOUBLE))
               / (CAST(ab + be AS DOUBLE) * CAST(tb AS DOUBLE)
                 / CAST(ta + tb AS DOUBLE)), 9) AS DECIMAL(18,9))""")
          .as("term"))
      .agg(count(lit(1)).cast("long").as("k"),
        max(expr("ta + tb")).cast("long").as("n"),
        sum(col("term")).as("chi2d"))
      .select(col("k"), col("n"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        (col("k") - 1).cast("long").as("df"))
  }

  // ---- round-10 batch 28: chain information + catalog + cointegration ----

  /** ENTROPY RATE of the event-type Markov chain:
    * H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ over the [[markovChain]] kernel — how
    * many nats each successive event actually carries once the
    * steady-state mix is accounted for. Every πᵢpᵢⱼln pᵢⱼ term is
    * 12-dp-quantized before the grid sum (the qBartlett ordering
    * contract); the grid is state², a constant.
    */
  def qEntropyRate(s: SparkSession, dir: String): DataFrame =
    markovChain(s, dir)
      .select(expr(
        """CAST(round(CAST(pi AS DOUBLE) * CAST(p AS DOUBLE)
             * ln(CAST(p AS DOUBLE)), 12) AS DECIMAL(18,12))""")
        .as("term"))
      .agg(count(lit(1)).cast("long").as("n_cells"),
        sum(col("term")).as("tsum"))
      .select(col("n_cells"),
        round(expr("-CAST(tsum AS DOUBLE)"), 6).as("entropy_rate"))

  /** ABC INVENTORY CLASSIFICATION of parts by revenue: class A holds
    * the parts covering the first 80% of cumulative revenue, B to
    * 95%, C the tail — the catalog-curation readout behind every
    * "head/torso/tail" decision. Class boundaries are decided by
    * EXACT integer cross-multiplication (5·cum ≤ 4·total etc.), the
    * window runs over the parts DIMENSION (catalog-sized, never the
    * fact table), and shares are single divisions of exact sums.
    */
  def qAbcAnalysis(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perPart = tbl(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
        .as("rev"))
    val tot = perPart.agg(sum(col("rev")).as("trev"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perPart
      .withColumn("cum", sum(col("rev")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum").cast("decimal(19,2)") * 5
          <= col("trev").cast("decimal(19,2)") * 4, "A")
          .when(col("cum").cast("decimal(19,2)") * 20
            <= col("trev").cast("decimal(19,2)") * 19, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum(col("rev")).as("crev"), max(col("trev")).as("trev"))
      .select(col("cls"), col("n_parts"),
        round(expr(
          "CAST(crev AS DOUBLE) / CAST(trev AS DOUBLE)"), 6)
          .as("revenue_share"))
      .orderBy("cls")
  }

  /** ENGLE–GRANGER COINTEGRATION probe between the daily revenues of
    * the BUILDING and MACHINERY customer segments: OLS one on the
    * other (frozen 6-dp line), then the Dickey–Fuller t-statistic of
    * the residual series — if the spread mean-reverts, the two
    * segments share a stochastic trend. Residuals are exact DECIMALs,
    * both regressions are closed-form moment algebra, and every
    * window is calendar-bounded.
    */
  def qCointegration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = tbl(s, dir, "orders")
      .join(tbl(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(when(col("c_mktsegment") === "BUILDING",
          col("o_totalprice").cast("decimal(18,2)"))).as("y1"),
        sum(when(col("c_mktsegment") === "MACHINERY",
          col("o_totalprice").cast("decimal(18,2)"))).as("y2"))
      .filter(col("y1").isNotNull && col("y2").isNotNull)
    val line = daily.agg(count(lit(1)).as("n"),
        sum(col("y1")).as("sx"), sum(col("y2")).as("sy"),
        sum(col("y1").cast("decimal(18,2)")
          * col("y1").cast("decimal(18,2)")).as("sxx"),
        sum(col("y1").cast("decimal(18,2)")
          * col("y2").cast("decimal(18,2)")).as("sxy"))
      .select(
        expr("""CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
          AS DECIMAL(18,6))""").as("b"),
        expr("""CAST(round((CAST(sy AS DOUBLE)
            - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
          AS DECIMAL(18,6))""").as("a"))
    val w = Window.orderBy("day")
    val z = daily.crossJoin(broadcast(line))
      .select(col("day"), expr(
        """CAST(round(CAST(y2 AS DOUBLE) - (CAST(a AS DOUBLE)
             + CAST(b AS DOUBLE) * CAST(y1 AS DOUBLE)), 4)
           AS DECIMAL(18,4))""").as("z"))
      .withColumn("zl", lag(col("z"), 1).over(w))
      .filter(col("zl").isNotNull)
      .select(col("zl"), (col("z") - col("zl"))
        .cast("decimal(18,4)").as("dz"))
    z.agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("zl").cast("decimal(18,4)")
          * col("zl").cast("decimal(18,4)")).as("szz"),
        sum(col("zl").cast("decimal(18,4)")
          * col("dz").cast("decimal(18,4)")).as("szd"),
        sum(col("dz").cast("decimal(18,4)")
          * col("dz").cast("decimal(18,4)")).as("sdd"))
      .withColumn("phi", expr(
        "CAST(szd AS DOUBLE) / CAST(szz AS DOUBLE)"))
      .withColumn("s2", expr(
        """(CAST(sdd AS DOUBLE) - phi * CAST(szd AS DOUBLE))
           / (CAST(n_days AS DOUBLE) - 2.0d)"""))
      .select(col("n_days"), round(col("phi"), 6).as("phi"),
        round(expr("phi * sqrt(CAST(szz AS DOUBLE)) / sqrt(s2)"), 6)
          .as("df_stat"))
  }

  // ---- round-10 batch 29: tail risk + rank changepoint + effect ----

  /** PEAKS-OVER-THRESHOLD tail fit: generalized-Pareto ξ/β by method
    * of moments on daily-revenue exceedances over the exact p90
    * element, plus the 365-day return level — the EVT complement of
    * [[qGumbelMaxima]] (block maxima) that uses every extreme
    * observation instead of one per block. Exceedance moments are
    * exact DECIMAL sums; the only libm is the final pow/divisions on
    * identical-text doubles.
    */
  def qPotTail(s: SparkSession, dir: String): DataFrame = {
    val d = dailyRevenue(s, dir)
    d.createOrReplaceTempView("pot_daily_v")
    val u = s.sql(
      """SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY rev) AS u,
           COUNT(*) AS n FROM pot_daily_v""")
    val exc = d.crossJoin(broadcast(u))
      .filter(col("rev") > col("u"))
      .select((col("rev") - col("u")).cast("decimal(18,2)").as("e"),
        col("u"), col("n"))
    exc.agg(max(col("u")).cast("double").as("threshold"),
        max(col("n")).cast("long").as("n_days"),
        count(lit(1)).cast("long").as("n_exc"),
        sum(col("e")).as("se"),
        sum(col("e").cast("decimal(18,2)")
          * col("e").cast("decimal(18,2)")).as("see"))
      .withColumn("m", expr(
        "CAST(se AS DOUBLE) / CAST(n_exc AS DOUBLE)"))
      .withColumn("v", expr(
        """(CAST(see AS DOUBLE) - CAST(se AS DOUBLE)
           * CAST(se AS DOUBLE) / CAST(n_exc AS DOUBLE))
           / CAST(n_exc AS DOUBLE)"""))
      .withColumn("xi", expr("0.5d * (1.0d - m * m / v)"))
      .withColumn("beta", expr("0.5d * m * (1.0d + m * m / v)"))
      .select(col("n_exc"), col("threshold"),
        round(col("xi"), 6).as("xi"),
        round(col("beta"), 2).as("beta"),
        round(expr(
          """threshold + beta / xi
             * (pow(365.0d * CAST(n_exc AS DOUBLE)
               / CAST(n_days AS DOUBLE), xi) - 1.0d)"""), 2)
          .as("ret_level_365d"))
  }

  /** PETTITT RANK CHANGEPOINT of the daily-revenue series: the
    * Mann–Whitney-based split statistic K_t = 2·S_t − t(n+1) (S_t the
    * running midrank sum in day order), argmax |K_t| — the
    * nonparametric twin of [[qChangepoint]]'s CUSUM scan (level
    * robust, outlier-immune). Midranks come from cumulative counts
    * over the DISTINCT value grid (the qRocAuc contract); every
    * window is days-sized; the argmax is a 1-row TakeOrdered with a
    * day tie-break.
    */
  def qPettitt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dailyRevenue(s, dir)
    val perVal = d.groupBy("rev").agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy("rev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perVal
      .withColumn("cum", sum(col("cnt")).over(wv))
      .select(col("rev"),
        expr("""CAST(cum - cnt AS DOUBLE)
          + (CAST(cnt AS DOUBLE) + 1.0d) / 2.0d""").as("r"))
    val n1 = d.agg(count(lit(1)).as("n"))
    val wd = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(ranked, "rev")
      .withColumn("t", row_number().over(Window.orderBy("day")))
      .withColumn("st", sum(col("r")).over(wd))
      .crossJoin(broadcast(n1))
      .select(col("day"), col("n"),
        expr("""2.0d * st - CAST(t AS DOUBLE)
          * (CAST(n AS DOUBLE) + 1.0d)""").as("k"))
      .select(col("day").as("change_day"), col("n").as("n_days"),
        round(abs(col("k")), 1).as("k_abs"),
        round(expr(
          """2.0d * exp(-6.0d * k * k
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"""), 6)
          .as("p_approx"))
      .orderBy(col("k_abs").desc, col("change_day"))
      .limit(1)
  }

  /** CLIFF'S DELTA effect size for the English-vs-rest length gap:
    * δ = (#{x>y} − #{x<y})/(mn) from integer cross-products over the
    * DISTINCT n_chars grid — the assumption-free magnitude readout
    * that belongs beside [[qMannWhitney]]'s p-value, exactly as
    * [[qCohensD]] sits beside the t-test. One corpus scan, one
    * vocab-sized window, a 1-row result.
    */
  def qCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = tbl(s, dir, "documents")
      .select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("v")
      .agg(sum(col("pos")).as("p"),
        (count(lit(1)) - sum(col("pos"))).as("q"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore
      .withColumn("cq", sum(col("q")).over(w) - col("q"))
      .withColumn("cp", sum(col("p")).over(w) - col("p"))
      .agg(sum(col("p")).cast("long").as("n_en"),
        sum(col("q")).cast("long").as("n_rest"),
        sum(col("p") * col("cq")).as("gt"),
        sum(col("q") * col("cp")).as("lt"))
      .select(col("n_en"), col("n_rest"),
        round(expr(
          """(CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
             / (CAST(n_en AS DOUBLE) * CAST(n_rest AS DOUBLE))"""), 6)
          .as("cliffs_delta"))
  }

  // ---- round-10 batch 30: robust two-way + seasonal trend ----

  /** TUKEY MEDIAN POLISH (two full sweeps) of the month × priority
    * revenue grid: alternately subtract row and column medians —
    * the outlier-immune two-way decomposition that ANOVA's means
    * can't give. Every median is an exact percentile_disc element
    * over a 5- or 12-value group, every subtraction stays exact
    * DECIMAL, and the grid is 12×5 at ANY corpus size. Emits the
    * per-priority column effect and the largest surviving residual.
    */
  def qMedianPolish(s: SparkSession, dir: String): DataFrame = {
    val grid = tbl(s, dir, "orders")
      .filter(year(to_date(col("o_orderdate"))) === 1995)
      .groupBy(month(to_date(col("o_orderdate"))).as("m"),
        col("o_orderpriority").as("trt"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
    grid.createOrReplaceTempView("mp_grid_v")
    s.sql(
      """WITH r1 AS (SELECT m, percentile_disc(0.5)
             WITHIN GROUP (ORDER BY v) AS re
           FROM mp_grid_v GROUP BY m),
         g1 AS (SELECT g.m, g.trt, g.v - r1.re AS v
           FROM mp_grid_v g JOIN r1 ON g.m = r1.m),
         c1 AS (SELECT trt, percentile_disc(0.5)
             WITHIN GROUP (ORDER BY v) AS ce
           FROM g1 GROUP BY trt),
         g2 AS (SELECT g1.m, g1.trt, g1.v - c1.ce AS v
           FROM g1 JOIN c1 ON g1.trt = c1.trt),
         r2 AS (SELECT m, percentile_disc(0.5)
             WITHIN GROUP (ORDER BY v) AS re
           FROM g2 GROUP BY m),
         g3 AS (SELECT g2.m, g2.trt, g2.v - r2.re AS v
           FROM g2 JOIN r2 ON g2.m = r2.m),
         c2 AS (SELECT trt, percentile_disc(0.5)
             WITHIN GROUP (ORDER BY v) AS ce
           FROM g3 GROUP BY trt),
         g4 AS (SELECT g3.m, g3.trt, g3.v - c2.ce AS v
           FROM g3 JOIN c2 ON g3.trt = c2.trt),
         mx AS (SELECT CAST(MAX(abs(v)) AS DOUBLE) AS max_resid
           FROM g4)
         SELECT c1.trt AS trt,
           round(CAST(c1.ce + c2.ce AS DOUBLE), 2) AS col_effect,
           round(max_resid, 2) AS max_abs_resid
         FROM c1 JOIN c2 ON c1.trt = c2.trt CROSS JOIN mx
         ORDER BY 1""")
  }

  /** SEASONAL (Hirsch–Slack) MANN–KENDALL: the trend test computed
    * WITHIN each weekday and summed — immune to the weekly cycle that
    * inflates the plain [[qMannKendall]] variance. Pairs join only
    * within a weekday (calendar-bounded, 1/7 the plain pair volume);
    * S and the per-season variance terms are exact integers.
    */
  def qSeasonalMk(s: SparkSession, dir: String): DataFrame = {
    val d = dailyRevenue(s, dir)
      .withColumn("wd", dayofweek(col("day")))
    val pairs = d.alias("a")
      .join(d.alias("b"),
        col("a.wd") === col("b.wd") && col("a.day") < col("b.day"))
      .agg(sum(when(col("b.rev") > col("a.rev"), 1L)
        .when(col("b.rev") < col("a.rev"), -1L)
        .otherwise(0L)).as("s_stat"))
    val vr = d.groupBy("wd").agg(count(lit(1)).as("nw"))
      .agg(sum(col("nw")).cast("long").as("n_days"),
        sum(col("nw") * (col("nw") - 1)
          * (lit(2L) * col("nw") + lit(5L))).as("var18"))
    pairs.crossJoin(broadcast(vr))
      .select(col("n_days"), col("s_stat").cast("long").as("s_stat"),
        round(expr(
          """CAST(s_stat AS DOUBLE)
             / sqrt(CAST(var18 AS DOUBLE) / 18.0d)"""), 6).as("z"))
  }

  // ---- round-10 batch 31: inequality family completion ----

  /** HOOVER (Robin Hood) INDEX of per-customer spend: the share of
    * total revenue that would have to move to equalize everyone —
    * ½·Σ|n·yᵢ − T|/(nT), kept EXACT as integer-scaled DECIMAL sums
    * until one final division. The transfer-interpretable member of
    * the inequality family beside [[qLorenz]]'s Gini, [[qTheilIndex]]
    * and [[qAtkinson]].
    */
  def qHoover(s: SparkSession, dir: String): DataFrame = {
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(19,2)").as("y"))
    val tot = spend.agg(count(lit(1)).as("n"),
      sum(col("y")).cast("decimal(19,2)").as("t"))
    spend.crossJoin(broadcast(tot))
      .select(abs(col("y") * col("n").cast("decimal(10,0)")
          - col("t")).as("dev"),
        col("n"), col("t"))
      .agg(max(col("n")).cast("long").as("n_cust"),
        max(col("t")).cast("double").as("total"),
        sum(col("dev")).as("sdev"))
      .select(col("n_cust"),
        round(expr(
          """CAST(sdev AS DOUBLE) / (2.0d * CAST(n_cust AS DOUBLE)
             * total)"""), 6).as("hoover_index"))
  }

  /** PALMA RATIO of per-customer spend: top-10% share over
    * bottom-40% share, with the decile cuts decided by EXACT integer
    * rank thresholds (10·rank > 9·n, 10·rank ≤ 4·n) over the
    * customer dimension — the heavy-tail inequality readout that
    * Gini compresses. One dimension-sized window, exact DECIMAL
    * share sums, one division.
    */
  def qPalma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("y"))
    val n1 = spend.agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("y"), col("o_custkey"))
    spend
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(n1))
      .agg(max(col("n")).cast("long").as("n_cust"),
        sum(when(col("rk") * 10 > col("n") * 9, col("y")))
          .as("top10"),
        sum(when(col("rk") * 10 <= col("n") * 4, col("y")))
          .as("bot40"))
      .select(col("n_cust"),
        round(expr(
          "CAST(top10 AS DOUBLE) / CAST(bot40 AS DOUBLE)"), 6)
          .as("palma_ratio"))
  }

  // ------------------------------------------------------------------

}
