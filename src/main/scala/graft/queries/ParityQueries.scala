package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.engine.InceptionEngine

/** Parity pipeline over `documents` (SURVEY.md §2.1), TPC-H-style relational core, and the streaming gate battery.
  *
  * Split out of SparkEntry.scala (round 16): members mix into
  * [[SparkEntry]] and resolve against its full surface via the
  * self-type; mixin order in SparkEntry preserves the original
  * declaration (and so val-initialization) order.
  */
private[graft] trait SparkEntryParity { this: SparkEntry.type =>

  // ------------------------------------------------------------------
  // Parity pipeline over `documents` (SURVEY.md §2.1)
  // ------------------------------------------------------------------

  /** O2 clean_text_for_json (utils.py:38-70). */
  def qCleanText(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), engine.cleanText(col("text")).as("cleaned"))
      .orderBy("doc_id")

  /** O3 /api/v1/validate/text (routes/embedding.py:129-150). */
  def qValidateText(s: SparkSession, dir: String): DataFrame =
    engineFor(s)
      .validateText(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("processed_text"), col("is_valid"), col("error"))
      .orderBy("doc_id")

  /** O1 validate_text_length (utils.py:84-116) with maxTextLength=300 so
    * both branches fire on the synthetic docs (n_chars 1..~1000). Emits
    * both the error label and the per-document message (the "Document N:"
    * prefix on the too-short branch, utils.py:97-103).
    */
  def qValidateLength(s: SparkSession, dir: String): DataFrame = {
    val strict = new InceptionEngine(
      EngineConfig.default.copy(maxTextLength = 300))
    strict.withValidation(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("error_type"), col("error"))
      .orderBy("doc_id")
  }

  /** decode_error path (routes/embedding.py:74-76 → utils.py:124-131):
    * documents re-encoded as UTF-8 bytes, with a planted invalid byte
    * sequence on every 7th doc — the engine decodes/validates the binary
    * column; truth is known by construction for the oracle.
    */
  def qDecodeUtf8(s: SparkSession, dir: String): DataFrame = {
    val withBin = tbl(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 7 === 0, unhex(lit("FFFEFD")))
        .otherwise(encode(col("text"), "UTF-8")).as("raw"))
    engineFor(s).decodeUtf8(withBin, "raw")
      .select(col("doc_id"), col("text").as("decoded"),
        col("error_type"), col("error"))
      .orderBy("doc_id")
  }

  /** O4 sentence split stats (embedding_service.py:64-78). */
  def qSentenceStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(
        col("doc_id"),
        size(engine.sentencesUdf(col("text"))).as("n_sentences"))
      .orderBy("doc_id")

  /** O6 chunker, exploded (embedding_service.py:80-150). */
  def qSentenceChunks(s: SparkSession, dir: String): DataFrame =
    engine
      .chunkDocuments(tbl(s, dir, "documents"))
      .orderBy("doc_id", "chunk_number")

  /** O9 per-doc chunk counts (embedding_service.py:199). */
  def qChunkCounts(s: SparkSession, dir: String): DataFrame =
    engine
      .chunkDocuments(tbl(s, dir, "documents"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy("doc_id")

  /** O4+O6 with the GREEDY PACKING + OVERLAP branches actually firing.
    *
    * The synthetic corpus is lowercase words + single spaces with no
    * sentence terminators, so on the raw `documents` table every doc is
    * one sentence and the chunker's packing loop degenerates to a single
    * chunk (see [[qSentenceChunks]]). This query CONSTRUCTS multi-sentence
    * prose from the same corpus with expressions that exist verbatim in
    * both engines — 8-word groups, first word capitalized, a fixed
    * non-abbreviation terminator word before the period, so
    * BreakIterator's UAX#29 rules (break only at terminator + space +
    * uppercase) and the punkt-style merge pass (the last token "end" is
    * multi-letter and not in the abbreviation inventory) recover EXACTLY
    * the constructed sentence list — then runs the REAL engine chunker at
    * maxTokens=48 / 2 overlap sentences (out-of-range ratio on purpose;
    * the reference's own tests chunk at max_tokens=15,
    * tests/test_embedding_service.py:330-345). ~3-4 sentences per chunk,
    * 3-6 chunks per doc: the overlap-carry, overlap-overflow-reset and
    * flush branches (reference embedding_service.py:116-149) all execute,
    * and the DuckDB oracle replays the whole fold as a recursive CTE over
    * the per-sentence token costs.
    */
  /** The multi-sentence constructed corpus + precondition shared by
    * [[qChunkPacking]] and [[qDocReassembly]] (the engine at
    * maxTokens=48/overlap=2 plus the precondition-checked `text2`
    * column). One definition: a corpus change must break both gates
    * identically, mirroring the shared [[packingCteBody]] on the oracle
    * side.
    */
  def packedCorpus(
      s: SparkSession,
      dir: String): (InceptionEngine, DataFrame) = {
    val eng = new InceptionEngine(
      EngineConfig.default.copy(maxTokens = 48, overlapRatio = 0.05))
    val docs = tbl(s, dir, "documents")
      .withColumn("ws", expr("filter(split(text, ' '), w -> w <> '')"))
      .filter(size(col("ws")) >= 1)
      .withColumn("text2", expr(
        """concat_ws(' ', transform(sequence(0, (size(ws) - 1) div 8),
             g -> concat(
               upper(substring(array_join(slice(ws, g * 8 + 1, 8), ' '), 1, 1)),
               substring(array_join(slice(ws, g * 8 + 1, 8), ' '), 2),
               ' end.')))"""))
    // PRECONDITION, checked loudly in BOTH engines (the oracle CTE
    // carries the twin check via error()): the recursive CTE models
    // every fold branch EXCEPT single-oversized-sentence truncation
    // (leadLen + sentence cost > maxTokens), which this constructed
    // corpus cannot reach (8-word groups). A corpus that could reach it
    // must fail the gate as a named precondition violation, not as an
    // inscrutable hash mismatch.
    val maxSentCostU = udf((t: String) =>
      graft.text.SentenceSplitter.split(Option(t).getOrElse(""))
        .map(graft.text.SimpleTokenizer.countTokens(_))
        .foldLeft(0)(math.max))
    val checked = docs.filter(
      assert_true(maxSentCostU(col("text2")) <= lit(48 - 7),
        lit("chunk_packing precondition violated: sentence cost > " +
          "maxTokens - leadLen; the oracle does not model truncation"))
        .isNull)
    (eng, checked)
  }

  def qChunkPacking(s: SparkSession, dir: String): DataFrame = {
    val (eng, checked) = packedCorpus(s, dir)
    eng.chunkDocuments(checked, "doc_id", "text2")
      .orderBy("doc_id", "chunk_number")
  }

  /** O10 per-document reassembly, HASH-GATED (VERDICT r15 ask #1): the
    * flagship [[InceptionEngine.embedDocuments]] array output
    * (reference embedding_service.py:220-257, schemas.py:62-84) exploded
    * back to long format over the MULTI-chunk packed corpus, so the
    * 1-based numbering, array ordering (pos_matches is computed from the
    * ACTUAL posexplode position, the oracle pins it TRUE), the
    * prefix-stripped chunk text, and the first 8 embedding components
    * are all bit-compared against the composed packing+kernel DuckDB
    * replay.
    */
  def qDocReassembly(s: SparkSession, dir: String): DataFrame = {
    val (eng, checked) = packedCorpus(s, dir)
    // no repartition: the flagship kernel fans its one-row-group scan
    // task out across the idle slots itself
    eng.embedDocuments(checked, "doc_id", "text2")
      .toDF()
      .select(col("doc_id"),
        posexplode(col("embeddings")).as(Seq("pos", "ce")))
      .select(Seq(
        col("doc_id"),
        col("ce.chunk_number").as("chunk_number"),
        (col("pos") + 1 === col("ce.chunk_number")).as("pos_matches"),
        col("ce.chunk").as("chunk")) ++
        (0 until 8).map(i =>
          col("ce.embedding")(i).cast("double").as(s"e$i")): _*)
      .orderBy("doc_id", "chunk_number")
  }

  /** O8+O10 embeddings, long format; first 4 components EXACT (the kernel
    * is bit-deterministic — splitmix64 feature hashing + Float32
    * normalize — so the DuckDB oracle replays it bit-for-bit per document;
    * rounding would only mask a kernel drift, never fix a real one).
    */
  def qDocEmbeddings(s: SparkSession, dir: String): DataFrame =
    engineFor(s)
      .embedDocumentsExploded(tbl(s, dir, "documents"))
      .toDF()
      .select(
        col("doc_id"),
        col("chunk_number"),
        col("embedding")(0).cast("double").as("e0"),
        col("embedding")(1).cast("double").as("e1"),
        col("embedding")(2).cast("double").as("e2"),
        col("embedding")(3).cast("double").as("e3"))
      .orderBy("doc_id", "chunk_number")

  /** O7 query embedding (embedding_service.py:152-165), one row per dim. */
  def qQueryEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vec = engine.embedQuery("judicial opinion concerning equal protection")
    vec.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toDouble) }
      .toDF("pos", "value")
      .orderBy("pos")
  }

  // ------------------------------------------------------------------
  // Relational surface over the TPC-H-ish tables (SURVEY.md §2.3 —
  // supplied by Spark, exposed as first-class engine queries)
  // ------------------------------------------------------------------

  /** TPC-H Q1-style scan+agg: the partial-aggregation workhorse. */
  def qQ1Agg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q6-style selective filter → pushed predicates, single agg row. */
  def qQ6Filter(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** TPC-H Q3-style join + top-k (tie-broken total sort). customer and
    * orders scale with SF, so neither carries a broadcast hint — AQE
    * broadcasts at runtime when a side is genuinely small, and falls back
    * to a shuffle join at scale (a forced hint would OOM at 100 TB).
    */
  def qQ3TopK(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = tbl(s, dir, "orders")
    val l = tbl(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .select(
        col("l_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  }

  /** TPC-H Q5-style multi-join rollup to nation. Only the fixed-size dims
    * (nation: 25 rows, region: 5 rows — SF-invariant) carry broadcast
    * hints; orders/customer scale with SF, so their join strategy is left
    * to AQE (broadcast when small at runtime, shuffle join at 100 TB).
    */
  def qQ5Join(s: SparkSession, dir: String): DataFrame = {
    val n = tbl(s, dir, "nation")
    val r = tbl(s, dir, "region")
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    val l = tbl(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** TPC-H Q4-shaped priority count: orders in one quarter with at
    * least one LATE lineitem (shipped >60 days after the order date —
    * the synthetic schema has no commit/receipt dates, so lateness is
    * re-expressed on l_shipdate). The EXISTS is a LEFT SEMI join on
    * (key, inequality) — one shuffle on the order key, never a row
    * explosion (a matched order appears once no matter how many late
    * lines), which is the property that holds at 100 TB.
    */
  def qQ4Priority(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
    val l = tbl(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q7-shaped volume shipping between two nations, per
    * direction per ship year. Both nation copies broadcast (25 rows,
    * SF-invariant); lineitem→orders→customer/supplier joins shuffle on
    * their keys and AQE picks the physical strategy.
    */
  def qQ7Volume(s: SparkSession, dir: String): DataFrame = {
    val n1 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val l = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val su = tbl(s, dir, "supplier")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n1), su("s_nationkey") === col("sk"))
      .join(broadcast(n2), c("c_nationkey") === col("ck"))
      .filter(
        (col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8-shaped market share: of the PROMO-type part volume sold
    * into ASIA-region customers, the fraction supplied by NATION_5,
    * per order year — a CASE'd sum over one multi-join, never two
    * passes. The share divides two exact-decimal-derived doubles, so
    * the rounding is engine-stable.
    */
  def qQ8Share(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").filter(col("p_type") === "PROMO")
    val n1 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = tbl(s, dir, "nation")
      .select(col("n_nationkey").as("ck"), col("n_regionkey").as("crk"))
    val r = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
    val l = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val su = tbl(s, dir, "supplier")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n1), su("s_nationkey") === col("sk"))
      .join(broadcast(n2), c("c_nationkey") === col("ck"))
      .join(broadcast(r), col("crk") === r("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_5",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))).as("nation_rev"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_rev"))
      .select(col("o_year"),
        round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q9-shaped product profit per supplier nation per year. The
    * synthetic schema has no partsupp, so supply cost is the standard
    * 80%-of-retail proxy: amount = disc price − 0.8·p_retailprice·qty,
    * cast to exact decimal as ONE expression (the oracle twin casts
    * identically, so the sums agree bit-for-bit).
    */
  def qQ9Profit(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").filter(col("p_name").contains("red"))
    val n = tbl(s, dir, "nation")
    val l = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    val su = tbl(s, dir, "supplier")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
        - lit(0.8) * col("p_retailprice") * col("l_quantity"))
        .as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q10-shaped returned-item losers: top-20 customers by revenue
    * on RETURNED lines in one quarter — join + agg + TakeOrdered, the
    * returns-triage report.
    */
  def qQ10Returns(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q11-shaped important inventory: parts whose disc-price value
    * exceeds 0.1% of the GLOBAL value — per-part aggregate HAVING a
    * broadcast scalar (one extra reduction, no second scan of the
    * grouped data; both sides of the comparison derive from the same
    * exact decimal sums).
    */
  def qQ11Important(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem")
    val byPart = l.groupBy(col("l_partkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("value"))
    val thr = l.agg((dsum(col("l_extendedprice") *
        (lit(1) - col("l_discount"))) * lit(0.001)).as("thr"))
    byPart.crossJoin(broadcast(thr))
      .filter(col("value") > col("thr"))
      .select(col("l_partkey"), col("value"))
      .orderBy(col("value").desc, col("l_partkey"))
      .limit(50)
  }

  /** TPC-H Q13-shaped customer order-count distribution: LEFT join so
    * zero-order customers survive with c_count 0, then the histogram
    * of counts — two aggregations, the first keyed on the customer.
    */
  def qQ13Custdist(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14-shaped promo revenue share for one month: 100 × CASE'd
    * decimal sum over total — one scan, one join, scale-free ratio.
    */
  def qQ14Promo(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
    val p = tbl(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))).as("promo_rev"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_rev"))
      .select(round(lit(100.0) * col("promo_rev") / col("total_rev"), 6)
        .as("promo_share"))
  }

  /** TPC-H Q16-shaped supplier count per (brand, size): the part-supp
    * relation is re-derived as DISTINCT (l_partkey, l_suppkey) pairs
    * from lineitem (no partsupp table in the synthetic schema), and
    * negative-balance suppliers are excluded via a broadcast NOT-IN
    * (100 suppliers, SF-invariant at the dimension's scale).
    */
  def qQ16SuppCnt(s: SparkSession, dir: String): DataFrame = {
    val ps = tbl(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val p = tbl(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 25)
    val bad = tbl(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    ps.join(broadcast(bad), ps("l_suppkey") === bad("s_suppkey"),
        "left_anti")
      .join(p, ps("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      .limit(40)
  }

  /** TPC-H Q18-shaped large-volume orders: orders whose summed quantity
    * clears 300, joined back to the customer — the grouped-HAVING-IN
    * re-expressed as aggregate → filter → join (one pass over
    * lineitem; the survivor set is tiny at any SF).
    */
  def qQ18BigOrders(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("l_orderkey").as("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19-shaped disjunctive revenue: three OR'ed (brand, size,
    * quantity) windows evaluated in ONE part⋈lineitem pass — the
    * planner keeps the disjunction as a residual over a single join,
    * never three scans.
    */
  def qQ19Disjunct(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem")
    val p = tbl(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** TPC-H Q22-shaped idle wealthy customers: above-average positive
    * balance AND no order in the final year — scalar broadcast + anti
    * join, grouped on a derived "country code" (nationkey mod 5; the
    * synthetic schema has no phone column).
    */
  def qQ22Idle(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal"))
        / count(lit(1)).cast("double")).as("avg_bal"))
    val recent = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).cast("long").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** TPC-H Q20-shaped excess-volume suppliers (no partsupp availqty in
    * the synthetic schema — "excess" is re-expressed on shipped
    * volume): suppliers of 'red' parts who shipped MORE than half of a
    * part's all-time volume in 1998 alone, restricted to the low
    * nation range — the original's nested-IN chain as two aggregates
    * and a semi join, both keyed on (supplier, part). Exact-decimal
    * quantity sums on both comparison sides.
    */
  def qQ20Excess(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").filter(col("p_name").contains("red"))
      .select(col("p_partkey"))
    val li = tbl(s, dir, "lineitem")
    val l = li.join(p, li("l_partkey") === p("p_partkey"))
    val vol = l.groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        dsum(when(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1999-01-01").cast("timestamp"),
          col("l_quantity")).otherwise(lit(0.0))).as("qty98"),
        dsum(col("l_quantity")).as("qty_all"))
    val excess = vol.filter(col("qty98") > lit(0.5) * col("qty_all"))
      .select(col("l_suppkey")).distinct()
    val su = tbl(s, dir, "supplier").filter(col("s_nationkey") < 10)
    su.join(excess, su("s_suppkey") === excess("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q12-shaped late-shipment priority split (no l_shipmode in
    * the synthetic schema — l_returnflag plays the mode dimension):
    * for lines shipped >90 days after their order date in 1998, the
    * high- vs low-priority order counts per flag. One join, CASE'd
    * integer sums.
    */
  def qQ12Priority(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate")
          + expr("INTERVAL 90 DAYS") &&
        col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
          .otherwise(0)).cast("long").as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
          .otherwise(1)).cast("long").as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q21-shaped WAITING SUPPLIERS: in multi-supplier orders, the
    * supplier whose latest line ties the ORDER's latest ship date while
    * some other supplier finished strictly earlier (the original's
    * double EXISTS re-expressed as two window aggregates over the
    * per-(order, supplier) max — one shuffle on the order key, no
    * self-joins). Top-10 offenders by blocked-order count.
    */
  def qQ21Waiting(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("l_orderkey")
    val ls = tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("smax"))
      .withColumn("omax", max(col("smax")).over(wo))
      .withColumn("omin", min(col("smax")).over(wo))
      .withColumn("nsupp", count(lit(1)).over(wo))
    val su = tbl(s, dir, "supplier")
    ls.filter(col("nsupp") >= 2 && col("smax") === col("omax") &&
        col("omin") < col("omax"))
      .join(su, ls("l_suppkey") === su("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
  }

  /** Exact interpolated percentiles per group (Spark `percentile` and
    * DuckDB `quantile_cont` share the linear-interpolation definition).
    */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("med_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("med_price"))
      .orderBy("l_returnflag")

  /** GROUPING SETS through the engine's SQL surface (spark.sql over a
    * registered view) — the explicit-sets sibling of rollup/cube.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem_v
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  }

  /** HLL approximate distinct per group. The raw sketch estimate is
    * implementation-specific (never hash-matches another engine), so the
    * gated output carries the exact count plus a BOOLEAN within-5%-bound
    * check of the estimate: the oracle replays the exact side and asserts
    * the bound as literal TRUE — if Spark's HLL ever drifts past 5%, the
    * row hash-mismatches and the gate catches it. The numeric estimate
    * itself is still exercised (the boolean derives from it) and its
    * bound is additionally asserted in OpsSpec.
    */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
          col("exact_parts").cast("double") * 0.05).as("within_5pct"))
      .orderBy("l_returnflag")

  /** Window functions: per-customer order numbering + exact running total
    * in cents (bigint — immune to FP association).
    */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
        col("o_custkey"),
        col("o_orderkey"),
        row_number().over(w).as("rn"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** ROLLUP grouping sets. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Left-semi join (EXISTS). */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 100000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS). */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Set op: INTERSECT of key sets, planned as distinct + left-semi (same
    * semantics on non-null keys; partial aggregation collapses the
    * fact-side scan before its shuffle, and both sides share the partkey
    * partitioning, so the semi join reuses it). part scales with SF —
    * no broadcast hint; AQE broadcasts when the filtered side is small.
    */
  def qSetOp(s: SparkSession, dir: String): DataFrame = {
    val lk = tbl(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey")).distinct()
    val pk = tbl(s, dir, "part")
      .filter(col("p_size") > 25)
      .select(col("p_partkey").as("partkey")).distinct()
    lk.join(pk, Seq("partkey"), "left_semi").orderBy("partkey")
  }

  /** Generator/UDTF shape: explode the word array, aggregate, global
    * top-k with deterministic tie-break — the classic token-frequency
    * pattern over the corpus.
    */
  def qWordTopK(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-zA-Z0-9_]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)

  /** Set op: EXCEPT — lineitem part keys that are NOT in the filtered
    * part set (distinct + anti-join plan, mirrors qSetOp's INTERSECT).
    */
  def qExcept(s: SparkSession, dir: String): DataFrame = {
    val lk = tbl(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey")).distinct()
    val pk = tbl(s, dir, "part")
      .filter(col("p_size") > 25)
      .select(col("p_partkey").as("partkey")).distinct()
    lk.join(pk, Seq("partkey"), "left_anti").orderBy("partkey")
  }

  /** LEFT OUTER join + aggregation: every customer with their order count
    * and spend, zeros included (the outer-join sibling of q_antijoin).
    */
  def qLeftOuter(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey").as("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** Event time as integer epoch MICROSECONDS, resolved by the input's
    * actual schema. The fixtures have shipped `events.ts` both as
    * TIMESTAMP(NANOS) — which Spark surfaces as LongType nanos under
    * spark.sql.legacy.parquet.nanosAsLong — and as a plain `timestamp`
    * column (what every production parquet lake has), so the engine
    * accepts both: LongType → integer DIV, TimestampType → unix_micros
    * (NTZ first reinterpreted in the session zone, UTC everywhere here).
    * Downstream math stays integer-µs, so the DuckDB `epoch_us(ts)`
    * oracles compare bit-exactly under either encoding.
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

  /** `ts_us` (integer epoch-µs event time) appended, schema-adaptively. */
  def withTsUs(df: DataFrame): DataFrame =
    df.withColumn("ts_us", eventTsUs(df))

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

  /** Shared streaming-gate orchestration: size the state-store
    * parallelism (shuffle partitions) to the stateful aggregate's key
    * cardinality, run one AvailableNow drain, stop the query, restore
    * the session's relational default. The distinctive logic (source,
    * fold, sink) stays at each call site; this save/run/await/stop/
    * restore choreography exists ONCE for all streaming gates.
    */
  def runStream(s: SparkSession, parts: String = "8")(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts)
    val t0 = System.nanoTime()
    try {
      val q = start
      try {
        q.awaitTermination()
        // micro-batch accounting (r14 VERDICT #7): the streaming
        // gates' cost is dominated by a per-micro-batch fixed floor,
        // not data volume — record batch count + drain wall time so
        // floor growth is a measured number, not an adjudication
        // debate. batchIds start at 0 per fresh gate checkpoint.
        StreamMeter.record(
          Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L),
          (System.nanoTime() - t0) / 1000000L)
      } finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", oldParts)
  }

  /** Micro-batch meter for the streaming gates: [[runStream]] records
    * (micro-batches, drain wall ms) per drain; the bench harness
    * drains the queue after each timed query and reports per-gate
    * batch counts and per-batch floors in the bench file line.
    */
  object StreamMeter {
    private val q =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    private[graft] def record(batches: Long, wallMs: Long): Unit =
      q.add((batches, wallMs))
    def drain(): Seq[(Long, Long)] = {
      var out = List.empty[(Long, Long)]
      var e = q.poll()
      while (e != null) { out ::= e; e = q.poll() }
      out.reverse
    }
  }

  /** Streaming-gate choreography over the PUBLIC delta-log surface
    * ([[graft.streaming.DeltaLog]] — promoted from this harness so the
    * pattern the gates prove is reusable): run one AvailableNow drain
    * appending each micro-batch's delta to a fresh log directory, return
    * the directory. All log IO inside DeltaLog goes through the Hadoop
    * FileSystem, so the same code targets a shared cluster URI; the gate
    * just picks a local temp dir.
    */
  def streamToDeltaLog(
      s: SparkSession,
      stream: DataFrame,
      mode: String,
      prepare: DataFrame => DataFrame = identity): String = {
    val dir = scratchTempDir(s, "graft_gate_log")
    val sink = graft.streaming.DeltaLog.appendSink(s, dir, prepare)
    runStream(s) {
      stream.writeStream
        .outputMode(mode)
        .foreachBatch(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    dir
  }

  def readDeltaLog(
      s: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    graft.streaming.DeltaLog.readLog(s, dir, schema)

  def readDeltaLogUpsert(
      s: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String]): DataFrame =
    graft.streaming.DeltaLog.readLogUpsert(s, dir, schema, keyCols)

  /** Event-time tumbling window (1h) — batch twin of the streaming agg. */
  def qEventsTumbling(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
    val tsUs = eventTsUs(ev)
    ev
      .groupBy(
        (tsUs - pmod(tsUs, lit(3600000000L)))
          .as("window_start_us"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"))
      .orderBy("window_start_us", "event_type")
  }

  /** Native TIMESTAMP event surface END TO END: group directly on
    * date_trunc('hour', ts) with no integer conversion anywhere — the
    * engine is first-class on real timestamp columns (what every
    * production parquet lake ships), not merely tolerant of them via
    * [[eventTsUs]]. Output hour is TIMESTAMP_NTZ so the parquet value
    * domain (naive µs) matches DuckDB's timestamp exactly. Plan: a
    * straight two-exchange agg+sort (asserted in PlanSpec).
    */
  def qTsNative(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour_ts", "event_type")

  /** Sessionization: 30-min-gap sessions via lag + running flag-sum —
    * the classic event-stream window chain.
    */
  def qEventsSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    withTsUs(tbl(s, dir, "events"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn(
        "new_sess",
        when(
          col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > 1800L * 1000000L,
          1L).otherwise(0L))
      .withColumn(
        "session_id",
        sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy("user_id", "session_id")
  }

  /** Correlated scalar subquery shape: each order with its customer's max
    * order price (planned as window over the customer key — the
    * decorrelated form Spark and DuckDB both reach).
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    tbl(s, dir, "orders")
      .withColumn("cust_max_cents",
        max(round(col("o_totalprice") * 100).cast("long")).over(w))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("cust_max_cents"))
      .orderBy("o_orderkey")
  }

  /** UNION (distinct) vs UNION ALL semantics over key sets. */
  def qUnionDistinct(s: SparkSession, dir: String): DataFrame = {
    val a = tbl(s, dir, "orders").select(col("o_custkey").as("custkey"))
    val b = tbl(s, dir, "customer")
      .filter(col("c_acctbal") > 0).select(col("c_custkey").as("custkey"))
    a.union(b).distinct().orderBy("custkey")
  }

  /** O1 query-endpoint validation (utils.py:105-116 query branch):
    * maxQueryLength=300 so `query_too_long` fires on the longer docs;
    * includes the O3 empty-after-cleaning branch queries go through.
    */
  def qValidateQuery(s: SparkSession, dir: String): DataFrame = {
    val strict = new InceptionEngine(
      EngineConfig.default.copy(maxQueryLength = 300))
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        strict.queryErrorType(col("text")).as("error_type"))
      .orderBy("doc_id")
  }

  /** Skew-salted aggregation over the 3-value l_returnflag key (each key
    * a hot key): two-phase (key, salt) → key merge. The oracle is the
    * PLAIN aggregate — salting must be result-invariant; sums stay exact
    * under regrouping because they accumulate in DECIMAL.
    */
  def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedSumCount(
        tbl(s, dir, "lineitem"),
        keyCols = Seq("l_returnflag"),
        valueCol = col("l_quantity").cast("decimal(18,6)"),
        salts = 16,
        spreadCol = "l_orderkey")
      .select(col("l_returnflag"),
        col("sum_value").cast("double").as("sum_qty"), col("n"))
      .orderBy("l_returnflag")

  /** Post-aggregation HAVING filter + join back to the dimension.
    * customer scales with SF — no broadcast hint (AQE decides).
    */
  def qHaving(s: SparkSession, dir: String): DataFrame = {
    val big = tbl(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_spent"))
      .filter(col("n_orders") >= 15)
    big.join(tbl(s, dir, "customer"),
        big("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"),
        col("total_spent"))
      .orderBy("c_custkey")
  }

  /** Conditional (pivot-style) aggregation: per-returnflag revenue split
    * by line status via sum(CASE WHEN ...).
    */
  def qConditionalAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        dsum(when(col("l_linestatus") === "F", col("l_extendedprice"))
          .otherwise(0.0)).as("rev_f"),
        dsum(when(col("l_linestatus") === "O", col("l_extendedprice"))
          .otherwise(0.0)).as("rev_o"),
        count(when(col("l_linestatus") === "F", 1)).as("n_f"),
        count(when(col("l_linestatus") === "O", 1)).as("n_o"))
      .orderBy("l_returnflag")

  /** Explicit PIVOT (RelationalGroupedDataset.pivot with a fixed value
    * list — fixed so the plan needs no discovery pass; open-ended pivot
    * would scan once for distinct values first).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_extendedprice")))
      .select(col("l_returnflag"), col("F").as("rev_f"), col("O").as("rev_o"))
      .orderBy("l_returnflag")

  /** CUBE grouping sets (all four grouping combinations). */
  def qCube(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Distinct aggregation: exact count-distinct per group (the expensive
    * two-shuffle shape Spark plans via expand).
    */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Top-k per group: rank-filter window (each customer's 3 priciest
    * orders).
    */
  def qTopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    tbl(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .orderBy("o_custkey", "rk")
  }

  /** Scalar-function surface: string/date/math built-ins in one pass. */
  def qScalarFuncs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_type")).as("type_len"),
        (col("p_size") % 7).as("size_mod"),
        round(sqrt(col("p_retailprice")), 6).as("price_sqrt"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")

  /** Hopping (sliding) event-time windows: 1h length, 30min hop — each
    * event lands in 2 windows via explode, the batch twin of streaming
    * `window(ts, "1 hour", "30 minutes")`.
    */
  def qEventsHopping(s: SparkSession, dir: String): DataFrame =
    withTsUs(tbl(s, dir, "events"))
      .select(col("ts_us"), col("event_type"),
        explode(expr("sequence(0, 1)")).as("hop"))
      // window_start = 30min-floor(ts) - hop*30min covers both 1h windows
      // containing ts
      .select(
        ((col("ts_us") - pmod(col("ts_us"), lit(1800000000L))) -
          col("hop") * 1800000000L).as("window_start_us"),
        col("event_type"))
      .groupBy("window_start_us", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("window_start_us", "event_type")

  /** One reusable FileStreamSource directory per testdata dir: the
    * source rejects a bare file path (verified — its listing wants a
    * directory/glob), and the fixture table is a single file, so it is
    * symlinked into a directory once, not per invocation. This is INPUT
    * fixture plumbing, deliberately NOT routed through
    * `spark.graft.scratch`: symlinks need a local FS, and on a cluster
    * the stream source simply points at the real table directory URI —
    * no produced gate data ever lives here.
    */
  val streamDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  def eventsStreamDir(dir: String): java.nio.file.Path =
    streamDirCache.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files.createTempDirectory("graft_stream_events")
      java.nio.file.Files.createSymbolicLink(
        p.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      p
    })

  val docsStreamDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def docsStreamDir(dir: String): java.nio.file.Path =
    docsStreamDirCache.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files.createTempDirectory("graft_stream_docs")
      java.nio.file.Files.createSymbolicLink(
        p.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$d/documents.parquet"))
      p
    })

  /** The curation stages run BY A REAL STREAMING QUERY — documents
    * arrive through a file-stream source and flow through splitAssign +
    * gopherRules unchanged (both are stateless narrow projections, so
    * streaming is the batch plan under a different source; StreamingSpec
    * additionally proves batch/stream equality across out-of-order
    * micro-batches). Append-mode foreachBatch into the distributed
    * delta log; the oracle computes the same split + keep per document
    * in pure SQL — the streaming path must land byte-identical rows.
    */
  def qDocsStreamCuration(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "documents").schema
    val stream = s.readStream.schema(schema)
      .parquet(docsStreamDir(dir).toString)
    val curated = graft.ops.Sampling
      .splitAssign(stream, "doc_id", seed = 42L,
        trainFrac = 0.9, valFrac = 0.05)
      .select(col("doc_id"), col("split"),
        graft.ops.TextAnalysis.gopherRules(col("text"))
          .getField("keep").as("keep"))
    val log = streamToDeltaLog(s, curated, "append")
    readDeltaLog(s, log, curated.schema)
      .select("doc_id", "split", "keep")
      .orderBy("doc_id")
  }

  /** Streamed incremental-stats maintenance with EXACTLY-ONCE batch
    * admission: micro-batches of the documents file-stream merge into
    * the bucket-partitioned [[graft.ops.IncrementalAgg]] state behind
    * the file-backed committed-batch high-water mark
    * (StreamingEmbed.fileHighWaterMark) — a replayed micro-batch is a
    * no-op, closing the crash-mid-swap double-count window
    * IncrementalAgg documents for replayable sources (StreamingSpec
    * proves the replay no-op across out-of-order batches). The final
    * state must hash-match the one-shot full aggregation oracle.
    */
  def qDocsStreamIncrStats(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "documents").schema
    val work = scratchTempDir(s, "graft_incr_stream")
    val stateDir = s"$work/state"
    val sink = graft.streaming.StreamingEmbed.idempotentSink(
      (batch: DataFrame, _: Long) => graft.ops.IncrementalAgg.update(
        batch, "source", "n_chars", stateDir, nBuckets = 8),
      graft.streaming.StreamingEmbed.hadoopHighWaterMark(
        s.sparkContext.hadoopConfiguration, s"$work/hwm"))
    val stream = s.readStream.schema(schema)
      .parquet(docsStreamDir(dir).toString)
    runStream(s) {
      stream.writeStream
        .outputMode("append")
        .foreachBatch(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    graft.ops.IncrementalAgg.read(s, stateDir).orderBy("key")
  }

  /** Event-time tumbling counts computed BY A REAL STREAMING QUERY:
    * file-stream source over the same parquet, event-time watermark (1h —
    * bounds window state at scale), Trigger.AvailableNow, UPDATE-mode
    * foreachBatch. Each micro-batch delivers only the groups whose counts
    * changed — the standard keyed-store sink shape — unlike complete
    * mode, which re-materializes the entire aggregate on the driver every
    * trigger. Deltas land in a distributed parquet log
    * ([[streamToDeltaLog]]) and the gate result is the keyed upsert of
    * that log — no result row touches the driver. Hash-matches the same
    * DuckDB SQL as the batch twin, proving the streaming plan computes
    * identical results (SURVEY.md §2.3 "streaming").
    */
  def qEventsStreamTumbling(s: SparkSession, dir: String): DataFrame = {
    val schema = tbl(s, dir, "events").schema
    val stream = withTsEvent(
      s.readStream.schema(schema).parquet(eventsStreamDir(dir).toString))
      .withWatermark("ts_event", "1 hour")
      .groupBy(window(col("ts_event"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
    val log = streamToDeltaLog(s, stream, "update")
    readDeltaLogUpsert(s, log, stream.schema,
      Seq("window_start_us", "event_type"))
      .orderBy("window_start_us", "event_type")
  }

  /** As-of join: each purchase event enriched with the user's latest view
    * at-or-before it (ops/AsOfJoin.scala — union + keyed window, one
    * shuffle, no native operator needed). Oracle uses DuckDB's built-in
    * ASOF JOIN.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = withTsUs(tbl(s, dir, "events"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("view_ts_us"),
        col("event_id").as("view_event_id"))
    graft.ops.AsOfJoin
      .asOf(purchases, views, Seq("user_id"), "ts_us", "view_ts_us",
        Seq("view_ts_us", "view_event_id"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_view_ts_us"), col("asof_view_event_id"))
      .orderBy("event_id")
  }

  /** AS-OF JOIN WITH TOLERANCE (pandas merge_asof's `tolerance` / the
    * feature-store max-staleness contract): a backward match older than
    * 30 minutes is WITHDRAWN (nulled), because serving a stale feature
    * is worse than serving none. Composes the existing as-of kernel
    * with one narrow staleness projection — no new shuffle; the oracle
    * applies the same CASE over DuckDB's ASOF JOIN.
    */
  def qAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = withTsUs(tbl(s, dir, "events"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("view_ts_us"),
        col("event_id").as("view_event_id"))
    val tolUs = 1800000000L // 30 min
    val joined = graft.ops.AsOfJoin
      .asOf(purchases, views, Seq("user_id"), "ts_us", "view_ts_us",
        Seq("view_ts_us", "view_event_id"))
    val fresh = col("asof_view_ts_us").isNotNull &&
      col("ts_us") - col("asof_view_ts_us") <= tolUs
    joined
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(fresh, col("asof_view_ts_us")).as("asof_view_ts_us"),
        when(fresh, col("asof_view_event_id")).as("asof_view_event_id"),
        fresh.as("within_tolerance"))
      .orderBy("event_id")
  }

  /** A/B LIFT analysis: users hash-assigned 50/50 (the splitAssign
    * md5-uniform, so assignment is reproducible across engines and
    * reruns — the property an experiment readout must have), per-arm
    * conversion rates and the two-proportion z statistic in one row.
    * The deterministic end of the experimentation pipeline; the oracle
    * replays the hash fold, the rates, and the pooled-variance z.
    */
  def qAbLift(s: SparkSession, dir: String): DataFrame = {
    val perUser = withTsUs(tbl(s, dir, "events"))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
        .as("purchased"))
    val assigned = graft.ops.Sampling
      .splitAssign(perUser, "user_id", seed = 11L,
        trainFrac = 0.5, valFrac = 0.25)
      .withColumn("in_a", col("split_u") < 0.5)
    val agg = assigned.agg(
      sum(when(col("in_a"), 1).otherwise(0)).cast("long").as("n_a"),
      sum(when(!col("in_a"), 1).otherwise(0)).cast("long").as("n_b"),
      sum(when(col("in_a"), col("purchased")).otherwise(0)).cast("long")
        .as("conv_a"),
      sum(when(!col("in_a"), col("purchased")).otherwise(0)).cast("long")
        .as("conv_b"))
    // try_divide, not `/`: under ANSI + whole-stage codegen the fused
    // stage evaluates this projection speculatively against PARTIAL
    // aggregate rows too (observed: a 4-task stage throwing
    // DIVIDE_BY_ZERO on a partition whose partial n_a is 0); the final
    // row's divisors are non-zero, so null-on-zero changes nothing in
    // the result and the oracle hash-checks that
    agg.selectExpr("n_a", "n_b", "conv_a", "conv_b",
      "round(try_divide(cast(conv_a AS DOUBLE), n_a), 6) AS rate_a",
      "round(try_divide(cast(conv_b AS DOUBLE), n_b), 6) AS rate_b",
      """round(try_divide(
           try_divide(cast(conv_a AS DOUBLE), n_a)
             - try_divide(cast(conv_b AS DOUBLE), n_b),
           sqrt(try_divide(cast(conv_a + conv_b AS DOUBLE), n_a + n_b)
             * (1.0 - try_divide(cast(conv_a + conv_b AS DOUBLE),
                 n_a + n_b))
             * (try_divide(1.0, n_a) + try_divide(1.0, n_b)))), 6)
         AS z_stat""")
  }

  /** CONVERSION LAG: per user, the time from FIRST view to FIRST
    * purchase (users who purchased before any view, or never did both,
    * are excluded) — the time-to-convert metric product analytics pairs
    * with the funnel. One keyed aggregate (two conditional MINs), no
    * window, no join.
    */
  def qConversionLag(s: SparkSession, dir: String): DataFrame =
    withTsUs(tbl(s, dir, "events"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us")))
          .as("first_view_us"),
        min(when(col("event_type") === "purchase", col("ts_us")))
          .as("first_purchase_us"))
      .filter(col("first_view_us").isNotNull &&
        col("first_purchase_us").isNotNull &&
        col("first_purchase_us") >= col("first_view_us"))
      .select(col("user_id"),
        // integer DIV, not `/`+cast: Spark's double-divide-then-cast
        // truncates but DuckDB's BIGINT cast rounds — div matches `//`
        expr("(first_purchase_us - first_view_us) div 60000000")
          .as("lag_minutes"))
      .orderBy("user_id")

  /** SKYLINE (Pareto-optimal frontier): (price, size) pairs no other
    * part strictly dominates (≤ price AND ≥ size, better in one) — the
    * multi-objective shortlist query. TWO-PHASE sort-based algorithm:
    * a hash-bucketed LOCAL skyline pass first (a point dominated within
    * any subset is dominated globally, so local losers are safe to
    * drop), then the global pass runs its one unpartitioned window over
    * the few survivors — never over the full distinct-pair set. Both
    * phases are the same running-max-of-size-over-cheaper-rows prune;
    * the ORACLE is the brute-force NOT EXISTS dominance scan, so the
    * window algebra is cross-checked against the definition itself.
    */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "part")
      .select(col("p_retailprice").as("price"), col("p_size").as("size"))
      .groupBy("price", "size").agg(count(lit(1)).as("n_parts"))
      .withColumn("b", pmod(xxhash64(col("price"), col("size")), lit(16)))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Long.MinValue, -1)
    val local = d
      .withColumn("mp", max(col("size")).over(wLocal))
      .filter(col("mp").isNull || col("mp") < col("size"))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .orderBy(col("price").asc, col("size").desc)
      .rowsBetween(Long.MinValue, -1)
    local
      .withColumn("mg", max(col("size")).over(wGlobal))
      .filter(col("mg").isNull || col("mg") < col("size"))
      .select("price", "size", "n_parts")
      .orderBy("price", "size")
  }

  /** PARETO / cumulative-share analysis: sources ranked by revenue with
    * each one's share and RUNNING share — "which head of the
    * distribution covers 80%?". Head-bounded: the top-25 rows are taken
    * FIRST with a distributed top-k (TakeOrderedAndProject — per-
    * partition heaps, no global sort). The running sum over the head is
    * then computed WITHOUT any WindowExec at all (r15 weak-item fix):
    * the 25 survivors fold into one array-of-structs aggregate and the
    * prefix sums come from higher-order functions (array_sort by the
    * same (rev DESC, user_id) rank, transform × aggregate over each
    * prefix — O(head²) = 625 scalar adds inside one task). This is
    * sound because a running sum at rank k only ever reads rows 1..k —
    * the head's cumulative shares are a pure function of the head
    * itself plus the broadcast total. At 100 TB (~10⁹ users) nothing
    * user-sized ever passes through one reducer and the executed plan
    * carries NO single-partition WindowExec (plan-spec'd).
    */
  def qPareto(s: SparkSession, dir: String): DataFrame = {
    val per = withTsUs(tbl(s, dir, "events"))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).as("rev"))
    val tot = per.agg(sum(col("rev")).as("t"))
    val head = per.orderBy(col("rev").desc, col("user_id")).limit(25)
    head
      .agg(collect_list(struct(col("rev"), col("user_id"))).as("hs"))
      .select(expr(
        """array_sort(hs, (l, r) ->
             CASE WHEN l.rev > r.rev THEN -1 WHEN l.rev < r.rev THEN 1
                  WHEN l.user_id < r.user_id THEN -1
                  WHEN l.user_id > r.user_id THEN 1 ELSE 0 END)""")
        .as("sorted"))
      .select(explode(expr(
        """transform(sequence(0, size(sorted) - 1), i -> struct(
             sorted[i].user_id AS user_id, sorted[i].rev AS rev,
             aggregate(slice(sorted, 1, i + 1),
               CAST(0 AS DECIMAL(28,6)),
               (acc, x) -> CAST(acc + x.rev AS DECIMAL(28,6))) AS cum))"""))
        .as("p"))
      .select(col("p.user_id").as("user_id"), col("p.rev").as("rev"),
        col("p.cum").as("cum"))
      .crossJoin(broadcast(tot))
      .select(col("user_id"),
        col("rev").cast("double").as("revenue"),
        round(col("rev").cast("double") / col("t").cast("double"), 6)
          .as("share"),
        round(col("cum").cast("double") / col("t").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("revenue").desc, col("user_id"))
  }

  /** TIME-WEIGHTED AVERAGE (TWAP): each observation weighted by how
    * long it was current (lead(ts) − ts within the user's timeline;
    * the final open-ended observation is excluded) — the correct mean
    * for irregularly sampled series, where the row-mean over-weights
    * bursts. One user-keyed window + one aggregate; DECIMAL weighted
    * sums so partitioning cannot move the result.
    */
  def qTwap(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    withTsUs(tbl(s, dir, "events"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dt_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_obs"),
        // divide as DOUBLE of the exact decimal sums: decimal-division
        // scale rules differ between engines; double division of
        // identical operands does not
        (sum((col("value") * col("dt_us")).cast("decimal(28,6)"))
          .cast("double") /
          sum(col("dt_us").cast("decimal(28,6)")).cast("double"))
          .as("twap0"))
      .select(col("user_id"), col("n_obs"),
        round(col("twap0"), 6).as("twap"))
      .orderBy("user_id")
  }

  /** ROLLING MEDIAN over a trailing 7-row frame per user — the robust
    * rolling statistic Spark has no native window function for:
    * composed as sort_array(collect_list) over the ROWS frame with the
    * interpolated-median formula (odd → middle; even → mean of the two
    * middles, exactly quantile_cont(0.5)). The frame is bounded (7
    * values), so the per-row array is O(frame), never O(partition).
    */
  def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-6, 0)
    withTsUs(tbl(s, dir, "events"))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
      .withColumn("n", size(col("arr")))
      .withColumn("rolling_median", round(
        when(col("n") % 2 === 1,
          expr("element_at(arr, cast((n + 1) div 2 AS INT))"))
          .otherwise((expr("element_at(arr, cast(n div 2 AS INT))") +
            expr("element_at(arr, cast(n div 2 + 1 AS INT))")) / 2.0), 6))
      .select("event_id", "user_id", "ts_us", "rolling_median")
      .orderBy("event_id")
  }

  /** Same as-of semantics through the NATIVE custom operator
    * (plans/AsOfJoinNative: resolved LogicalPlan -> planner Strategy ->
    * sort-merge AsOfJoinExec; one exchange per side, single merge pass).
    * Hash-checked against the SAME DuckDB ASOF JOIN oracle shape as
    * `q_asof_join` — two independent implementations, one truth.
    */
  def qAsofJoinNative(s: SparkSession, dir: String): DataFrame = {
    val ev = withTsUs(tbl(s, dir, "events"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("view_ts"),
        col("event_id").as("view_event_id"))
    graft.plans.AsOfJoinNative
      .asOf(purchases, views, Seq("user_id"), "ts_us", "view_ts")
      .select(purchases("event_id"), purchases("user_id"), col("ts_us"),
        col("view_ts").as("asof_view_ts_us"),
        col("view_event_id").as("asof_view_event_id"))
      .orderBy("event_id")
  }

  /** Per-label embedding centroid via the typed Aggregator UDAF
    * (functions/VectorAggregates.scala) — partial aggregation map-side,
    * O(groups × dim) shuffle. First 4 dims exposed for the oracle.
    */
  def qCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = tbl(s, dir, "embeddings")
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
    ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.VectorAggregates.centroid(64).name("c"))
      .select(col("key").as("label"),
        round(col("c")(0).cast("double"), 4).as("c0"),
        round(col("c")(1).cast("double"), 4).as("c1"),
        round(col("c")(2).cast("double"), 4).as("c2"),
        round(col("c")(3).cast("double"), 4).as("c3"))
      .orderBy("label")
  }

  /** PER-DIMENSION embedding statistics (mean/variance/min/max for each
    * of the 64 dims) — the profiling pass every whitening/normalization
    * stage needs before touching a vector corpus. Scale shape:
    * `posexplode` is a narrow 64× fan-out, then map-side partial
    * aggregation collapses each partition to ≤64 rows BEFORE the one
    * hash exchange — at 100 TB the shuffle carries O(dims × partitions)
    * rows, never O(rows × dims). Sums are accumulated as exact DECIMAL
    * (float→double is exact, the decimal quantization is fixed), so the
    * result is partitioning- and order-independent and the DuckDB twin
    * hash-matches bit-for-bit; only the final mean/variance arithmetic
    * runs in double, identically on both engines.
    */
  def qEmbedDimStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "ef")))
      .select(col("dim").cast("long").as("dim"),
        col("ef").cast("double").as("e"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(col("e").cast("decimal(28,12)")).as("s"),
        sum((col("e") * col("e")).cast("decimal(28,12)")).as("s2"),
        min(col("e")).as("mn"),
        max(col("e")).as("mx"))
      .select(col("dim"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("mean"),
        round((col("s2").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) /
          col("n"), 6).as("variance"),
        round(col("mn"), 6).as("min_v"),
        round(col("mx"), 6).as("max_v"))
      .orderBy("dim")

  /** One fitted PCA basis per testdata dir (the moment pass runs once;
    * every probe reuses the 64×64 model — a fitted model is an
    * artifact, not a per-query cost).
    */
  val pcaModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ops.Pca.Model]()

  /** PCA end to end as an ORACLE-CHECKABLE query: fit the full-rank
    * (k=d=64) eigenbasis over the embeddings, project every vector,
    * report the projected squared norm. A complete orthonormal basis is
    * a rotation, so |proj|² must equal the CENTERED squared norm of the
    * raw vector — which DuckDB computes with no eigensolver. A skewed
    * mean, a non-orthogonal basis, or a dropped axis all break the
    * equality; eigenvalue ordering and the projected-variance ==
    * eigenvalue identity are asserted in OpsSpec (not SQL-expressible).
    */
  def qPcaProject(s: SparkSession, dir: String): DataFrame = {
    val model = pcaModelCache.computeIfAbsent(dir, { d =>
      graft.ops.Pca.fit(tbl(s, d, "embeddings"), "embedding", 64, 64)
    })
    graft.ops.Pca.project(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", model)
      .select(col("vec_id"), round(col("pnorm2"), 4).as("pnorm2"))
      .orderBy("vec_id")
  }

  /** One trained PQ codebook set per testdata dir (8 subspaces × 16
    * codes × 8 dims — a persisted-index-grade artifact, fitted once).
    */
  val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.ops.Pq.Model]()

  /** PRODUCT QUANTIZATION end to end: fit 8 per-subspace 16-centroid
    * codebooks (2 deterministic Lloyd iterations each), encode every
    * vector to its 8 codes, and report the 9-dp-quantized
    * reconstruction error. The DuckDB twin re-runs the ENTIRE fit —
    * hyperplane init, fixed-point centroid refinement, L2 argmin — as
    * generated CTEs per subspace and must hash-match codes and errors
    * exactly (the q_kmeans replay contract, times eight subspaces).
    */
  def qVecPq(s: SparkSession, dir: String): DataFrame = {
    val model = pqModelCache.computeIfAbsent(dir, { d =>
      graft.ops.Pq.fit(tbl(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 2)
    })
    graft.ops.Pq.encode(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        model)
      .select(col("vec_id"), col("codes"),
        round(col("err2"), 6).as("err2"))
      .orderBy("vec_id")
  }

  /** PQ-ADC approximate nearest neighbors for the vec_id=0 query (the
    * ann_bruteforce convention): rank by sums of per-subspace LUT
    * entries addressed by stored codes — the scan reads the code table,
    * never the vectors. Exact-ANN agreement is OpsSpec's recall check;
    * the oracle twin recomputes the same ADC ranking from its own
    * codebook replay.
    */
  def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val model = pqModelCache.computeIfAbsent(dir, { d =>
      graft.ops.Pq.fit(tbl(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 2)
    })
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val enc = graft.ops.Pq.encode(e, "vec_id", "embedding", model)
    graft.ops.Pq.adcTopK(enc, "vec_id", model, q, 10)
      .select(col("vec_id"),
        round(col("adc").cast("double"), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
  }

  /** IVF-PQ composed ANN (coarse hyperplane/centroid pruning to 3 of 8
    * lists, then ADC over survivors' codes) — the full billion-scale
    * layout as one oracle-checked gate.
    */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val model = pqModelCache.computeIfAbsent(dir, { d =>
      graft.ops.Pq.fit(tbl(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 2)
    })
    val q = e.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    graft.ops.Pq.ivfAdcTopK(e, "vec_id", "embedding", model,
        numPlanes = 3, nProbe = 3, q, 10)
      .select(col("vec_id"),
        round(col("adc").cast("double"), 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
  }

}
