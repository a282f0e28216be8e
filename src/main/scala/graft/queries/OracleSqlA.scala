package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.engine.InceptionEngine

/** Oracle-SQL slice A of the DuckDB twin map.
  *
  * Split out of SparkEntry.scala (round 16); entries are verbatim
  * from the original single Map literal.
  */
private[graft] trait SparkEntryOracleA { this: SparkEntry.type =>

  /** Oracle-SQL map slice — concatenated into
    * [[SparkEntry.oracleSql]]; keys are globally unique.
    */
  private[graft] lazy val oracleSqlPartA: Map[String, String] = Map(
    "sentence_stats" -> sentenceStatsOracleSql,
    "sentence_chunks" -> sentenceChunksOracleSql,
    "chunk_counts" -> chunkCountsOracleSql,
    "chunk_packing" -> chunkPackingOracleSql,
    "doc_embeddings" -> docEmbeddingsOracleSql,
    "doc_reassembly" -> docReassemblyOracleSql,
    "dedup_simhash" -> simhashOracleSql,
    "ann_lsh" -> annLshOracleSql,
    "ann_lsh_indexed" -> annLshOracleSql,
    "ann_post_delete" -> annPostDeleteOracleSql,
    "ann_lsh_multiprobe" -> annLshMultiprobeOracleSql,
    "ann_incremental" -> annLshOracleSql,
    "ann_ivf" -> annIvfOracleSql,
    "ann_ivf_indexed" -> annIvfOracleSql,
    "dedup_incremental" -> dedupIncrementalOracleSql,
    "dedup_post_delete" -> dedupPostDeleteOracleSql,
    "q_kmeans" -> kmeansOracleSql,
    // A-ES weighted sampling: hash-uniform u from md5 hex (fold of the
    // first 8 digits), key = ln(u)*1000/weight rounded to 6dp + id
    // tiebreak (the repo-wide cross-engine rank-stability contract)
    "q_weighted_sample" ->
      """WITH u AS (SELECT source, doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents WHERE n_chars > 0),
         v AS (SELECT source, doc_id, n_chars,
             list_reduce(list_transform(range(1, 9),
               i -> CAST(strpos('0123456789abcdef', h[i:i]) - 1 AS BIGINT)),
               (a, d) -> a * 16 + d) AS hv
           FROM u),
         ks AS (SELECT source, doc_id,
             round(ln((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0)
               * 1000.0 / n_chars, 6) AS sample_key
           FROM v),
         r AS (SELECT source, doc_id, sample_key,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY sample_key DESC, doc_id) AS INTEGER) AS sample_rank
           FROM ks)
       SELECT source, doc_id, sample_key, sample_rank FROM r
       WHERE sample_rank <= 5 ORDER BY source, sample_rank""",
    "q_inverted_index" ->
      """WITH t AS (SELECT DISTINCT doc_id, u.w AS w
           FROM documents, unnest(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             x -> x <> '')) u(w))
         SELECT w, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings
         FROM t GROUP BY w ORDER BY w""",
    "multimodal_images" -> multimodalImagesOracleSql,
    "multimodal_frames" -> multimodalFramesOracleSql,
    "multimodal_audio" -> multimodalAudioOracleSql,
    "query_embedding" -> queryEmbeddingOracleSql,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "clean_text" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(text, '[^\n\t\x20-\x7E]', '', 'g'),
           '\t', ' ', 'g'),
           '(?m)^ +| +$', '', 'g'),
           '\n{3,}', chr(10)||chr(10), 'g'),
           '^[\n ]+|[\n ]+$', '', 'g') AS cleaned
         FROM documents ORDER BY doc_id""",
    "validate_text" ->
      """WITH c AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(text, '[^\n\t\x20-\x7E]', '', 'g'),
             '\t', ' ', 'g'),
             '(?m)^ +| +$', '', 'g'),
             '\n{3,}', chr(10)||chr(10), 'g'),
             '^[\n ]+|[\n ]+$', '', 'g') AS processed_text
         FROM documents)
         SELECT doc_id, processed_text,
           length(processed_text) > 0 AS is_valid,
           CASE WHEN length(processed_text) > 0 THEN NULL
                ELSE 'Text is empty after cleaning.' END AS error
         FROM c ORDER BY doc_id""",
    "validate_length" ->
      """WITH c AS (SELECT doc_id,
           length(regexp_replace(text,'^[\s\p{Z}\x{0B}\x{85}]+|[\s\p{Z}\x{0B}\x{85}]+$','','g')) AS slen
         FROM documents)
         SELECT doc_id,
           CASE WHEN slen < 1 THEN 'text_too_short'
                WHEN slen > 300 THEN 'text_too_long'
                ELSE NULL END AS error_type,
           CASE WHEN slen < 1 THEN 'Document ' || doc_id ||
                  ': Text length (' || slen || ') below minimum (1)'
                WHEN slen > 300 THEN 'Text length (' || slen ||
                  ') exceeds maximum (300)'
                ELSE NULL END AS error
         FROM c ORDER BY doc_id""",
    "decode_utf8" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS decoded,
           CASE WHEN doc_id % 7 = 0 THEN 'decode_error'
                ELSE NULL END AS error_type,
           CASE WHEN doc_id % 7 = 0 THEN 'Invalid UTF-8 encoding in text'
                ELSE NULL END AS error
         FROM documents ORDER BY doc_id""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-06-30'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-07-01'
           AND o_orderdate < TIMESTAMP '1997-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""",
    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q8_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_5'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
               AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
           JOIN region ON n2.n_regionkey = r_regionkey
         WHERE p_type = 'PROMO' AND r_name = 'ASIA'
         GROUP BY 1 ORDER BY 1""",
    "q9_profit" ->
      """SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               - 0.8 * p_retailprice * l_quantity
             AS DECIMAL(18,6))) AS DOUBLE) AS profit
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    "q10_returns" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1997-10-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q11_important" ->
      """SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS value
         FROM lineitem
         GROUP BY 1
         HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE)
           > (SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,6))) AS DOUBLE) * 0.001 FROM lineitem)
         ORDER BY value DESC, l_partkey LIMIT 50""",
    "q13_custdist" ->
      """WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey
               AND o_orderpriority <> '4-NOT SPECIFIED'
           GROUP BY 1)
         SELECT c_count, COUNT(*) AS custdist
         FROM co GROUP BY 1
         ORDER BY custdist DESC, c_count DESC""",
    "q14_promo" ->
      """SELECT round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
             AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-09-01'
           AND l_shipdate < TIMESTAMP '1997-10-01'""",
    "q16_suppcnt" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p_brand, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM ps JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_size <= 25
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2
         ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 40""",
    "q18_bigorders" ->
      """WITH big AS (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty
           FROM lineitem GROUP BY 1
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
             AS DOUBLE) > 300)
         SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
         FROM big
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q19_disjunct" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)""",
    "q22_idle" ->
      """SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             AS totacctbal
         FROM customer c
         WHERE c_acctbal > (SELECT
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*)
             FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c.c_custkey
               AND o_orderdate >= TIMESTAMP '2001-01-01')
         GROUP BY 1 ORDER BY 1""",
    "q6_filter" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01'
           AND l_shipdate < TIMESTAMP '1999-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q3_topk" ->
      """SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_join" ->
      """SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER w AS rn,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS running_cents
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q_percentiles" ->
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         ORDER BY c_custkey""",
    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q_setop" ->
      """SELECT l_partkey AS partkey FROM lineitem
         INTERSECT
         SELECT p_partkey AS partkey FROM part WHERE p_size > 25
         ORDER BY partkey""",
    "q_except" ->
      """SELECT l_partkey AS partkey FROM lineitem
         EXCEPT
         SELECT p_partkey AS partkey FROM part WHERE p_size > 25
         ORDER BY partkey""",
    "q_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
             AS DOUBLE), 0.0) AS total_spent
         FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_word_topk" ->
      """WITH w AS (
           SELECT unnest(regexp_split_to_array(lower(text),
             '[^a-zA-Z0-9_]+')) AS word
           FROM documents)
         SELECT word, COUNT(*) AS n FROM w WHERE word <> ''
         GROUP BY word ORDER BY n DESC, word LIMIT 20""",
    "events_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1, 2 ORDER BY window_start_us, event_type""",
    "q_ts_native" ->
      """SELECT date_trunc('hour', ts) AS hour_ts,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1, 2 ORDER BY hour_ts, event_type""",
    "q_rate_stream" ->
      """WITH v AS (SELECT range AS value FROM range(0, 5000)),
         e AS (SELECT 't' || CAST(value % 5 AS VARCHAR) AS event_type,
                 1704067200000000 + value * 61000000 AS ts_us
               FROM v)
         SELECT ts_us - ts_us % 3600000000 AS window_start_us, event_type,
           COUNT(*) AS n
         FROM e GROUP BY 1, 2 ORDER BY window_start_us, event_type""",
    "events_sessions" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_us IS NULL
                          OR ts_us - prev_us > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_sess
           FROM e),
         g AS (
           SELECT *, CAST(SUM(new_sess) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
         FROM g GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "events_hopping" ->
      """WITH e AS (
           SELECT epoch_us(ts) AS ts_us, event_type,
             unnest([0, 1]) AS hop
           FROM events)
         SELECT (ts_us - (ts_us % 1800000000) - hop * 1800000000)
             AS window_start_us,
           event_type, COUNT(*) AS n
         FROM e GROUP BY 1, 2 ORDER BY window_start_us, event_type""",
    "events_stream_tumbling" ->
      """SELECT (epoch_us(ts) - (epoch_us(ts) % 3600000000))
             AS window_start_us,
           event_type, COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""",
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           (SELECT MAX(CAST(round(o2.o_totalprice * 100) AS BIGINT))
            FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
             AS cust_max_cents
         FROM orders o ORDER BY o_orderkey""",
    "q_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders
         UNION
         SELECT c_custkey FROM customer WHERE c_acctbal > 0
         ORDER BY custkey""",
    "validate_query" ->
      """WITH c AS (SELECT doc_id, text,
           length(regexp_replace(text,'^[\s\p{Z}\x{0B}\x{85}]+|[\s\p{Z}\x{0B}\x{85}]+$','','g')) AS slen,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(text, '[^\n\t\x20-\x7E]', '', 'g'),
             '\t', ' ', 'g'),
             '(?m)^ +| +$', '', 'g'),
             '\n{3,}', chr(10)||chr(10), 'g'),
             '^[\n ]+|[\n ]+$', '', 'g') AS cleaned
         FROM documents)
         SELECT doc_id,
           CASE WHEN slen < 1 THEN 'text_too_short'
                WHEN slen > 300 THEN 'query_too_long'
                WHEN length(cleaned) = 0 THEN 'validation_error'
                ELSE NULL END AS error_type
         FROM c ORDER BY doc_id""",
    "q_salted_agg" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_having" ->
      """SELECT c_custkey, c_name, n_orders, total_spent FROM (
           SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_spent
           FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15) t
         JOIN customer ON o_custkey = c_custkey
         ORDER BY c_custkey""",
    "q_conditional_agg" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_extendedprice
             ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS rev_f,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_extendedprice
             ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS rev_o,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_pivot" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_extendedprice
             END AS DECIMAL(18,6))) AS DOUBLE) AS rev_f,
           CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_extendedprice
             END AS DECIMAL(18,6))) AS DOUBLE) AS rev_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_ab_lift" ->
      """WITH pu AS (SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS purchased
           FROM events GROUP BY user_id),
         h AS (SELECT user_id, purchased,
             md5('11:' || CAST(user_id AS VARCHAR)) AS hh FROM pu),
         v AS (SELECT purchased, list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', hh[i:i]) - 1 AS BIGINT)),
             (a, d) -> a * 16 + d) AS hv
           FROM h),
         u AS (SELECT purchased,
             round((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0, 6) < 0.5
               AS in_a
           FROM v),
         agg AS (SELECT
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN in_a THEN purchased ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE purchased END) AS BIGINT)
               AS conv_b
           FROM u)
         SELECT n_a, n_b, conv_a, conv_b,
           round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
           round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
           round((CAST(conv_a AS DOUBLE) / n_a
                  - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
         FROM agg""",
    "q_linreg" ->
      """WITH m AS (SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))
               * CAST(l_extendedprice AS DECIMAL(14,2))) AS syy
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sy AS DOUBLE)
               - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept,
           floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS r2
         FROM m ORDER BY l_returnflag""",
    "q_roc_auc" ->
      """WITH s AS (SELECT n_chars AS score, COUNT(*) AS cnt,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS p
           FROM documents GROUP BY 1),
         r AS (SELECT p, cnt,
             CAST(SUM(cnt) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cnt AS DOUBLE)
               + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS midrank
           FROM s),
         a AS (SELECT CAST(SUM(p) AS BIGINT) AS np,
             CAST(SUM(cnt - p) AS BIGINT) AS nn,
             SUM(CAST(p AS DOUBLE) * midrank) AS rsum
           FROM r)
         SELECT np AS n_pos, nn AS n_neg,
           round((rsum - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0)
               / 2.0)
             / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS auc
         FROM a""",
    "q_confusion" ->
      """WITH c AS (SELECT
             CAST(SUM(CASE WHEN n_chars >= 500 AND lang = 'en'
               THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN n_chars >= 500 AND lang <> 'en'
               THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN n_chars < 500 AND lang = 'en'
               THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN n_chars < 500 AND lang <> 'en'
               THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM documents)
         SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
             AS precision,
           round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
             AS recall,
           round(2.0 * CAST(tp AS DOUBLE)
             / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
               + CAST(fn AS DOUBLE)), 6) AS f1
         FROM c""",
    "q_calibration" ->
      """SELECT LEAST(CAST(n_chars AS BIGINT) // 100, 9) AS bin,
           COUNT(*) AS n,
           round(CAST(CAST(SUM(LEAST(CAST(n_chars AS BIGINT), 1000))
               AS BIGINT) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000.0), 6) AS mean_score,
           round(CAST(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS obs_rate
         FROM documents GROUP BY 1 ORDER BY bin""",
    "q_jaro_dedup" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
         WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
           >= 0.85
         ORDER BY jw DESC, id_a, id_b""",
    "q_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS ym,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
           FROM orders),
         f AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM o GROUP BY 1)
         SELECT cohort_ym, ym - cohort_ym AS age_months,
           COUNT(DISTINCT o.o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           CAST(SUM(price) AS DOUBLE) AS revenue
         FROM o JOIN f ON o.o_custkey = f.o_custkey
         GROUP BY 1, 2 ORDER BY cohort_ym, age_months""",
    "q_order_gaps" ->
      """WITH g AS (SELECT
             (epoch_us(o_orderdate)
               - LAG(epoch_us(o_orderdate), 1) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)) // 86400000000
               AS gap_days
           FROM orders)
         SELECT COUNT(*) AS n_gaps,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days)
             AS BIGINT) AS med_gap_days,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_days)
             AS BIGINT) AS p90_gap_days,
           round(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6)
             AS mean_gap_days
         FROM g WHERE gap_days IS NOT NULL""",
    "q_seasonality" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
         t AS (SELECT day, rev,
             COUNT(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
             SUM(rev) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7
           FROM d),
         r AS (SELECT isodow(day) AS dow,
             rev - CAST(round(CAST(sum7 AS DOUBLE) / 7.0, 6)
               AS DECIMAL(18,6)) AS detr
           FROM t WHERE n7 = 7)
         SELECT dow, COUNT(*) AS n_days,
           round(CAST(SUM(detr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS seasonal
         FROM r GROUP BY 1 ORDER BY dow""",
    "q_autocorr" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
         p AS (SELECT rev,
             LAG(rev, 7) OVER (ORDER BY day) AS lag7
           FROM d),
         m AS (SELECT COUNT(*) AS n,
             SUM(rev) AS sx, SUM(lag7) AS sy,
             SUM(rev * lag7) AS sxy, SUM(rev * rev) AS sxx,
             SUM(lag7 * lag7) AS syy
           FROM p WHERE lag7 IS NOT NULL)
         SELECT n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS acf7
         FROM m""",
    "q_changepoint" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
         m AS (SELECT CAST(round(CAST(SUM(rev) AS DOUBLE) / COUNT(*), 6)
             AS DECIMAL(18,6)) AS mu
           FROM d),
         c AS (SELECT day,
             SUM(rev - mu) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
           FROM d CROSS JOIN m)
         SELECT day, round(CAST(cusum AS DOUBLE), 6) AS cusum,
           round(CAST(abs(cusum) AS DOUBLE), 6) AS abs_cusum
         FROM c ORDER BY abs_cusum DESC, day LIMIT 5""",
    "q_hits" -> {
      def iter(k: Int): String =
        s"""ar$k AS (SELECT dst, SUM(h) AS s
             FROM e JOIN h${k - 1} ON node = src GROUP BY dst),
           am$k AS (SELECT MAX(s) AS m FROM ar$k),
           a$k AS (SELECT node,
               CAST(round(CAST(coalesce(s, 0) AS DOUBLE)
                 / CAST(m AS DOUBLE), 12) AS DECIMAL(28,12)) AS a
             FROM nodes LEFT JOIN ar$k ON node = dst CROSS JOIN am$k),
           hr$k AS (SELECT src, SUM(a) AS s
             FROM e JOIN a$k ON node = dst GROUP BY src),
           hm$k AS (SELECT MAX(s) AS m FROM hr$k),
           h$k AS (SELECT node,
               CAST(round(CAST(coalesce(s, 0) AS DOUBLE)
                 / CAST(m AS DOUBLE), 12) AS DECIMAL(28,12)) AS h
             FROM nodes LEFT JOIN hr$k ON node = src CROSS JOIN hm$k)"""
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS src,
             l_partkey + (SELECT max(l_suppkey) + 1 FROM lineitem) AS dst
           FROM lineitem WHERE l_quantity <= 2),
         nodes AS (SELECT src AS node FROM e
           UNION SELECT dst FROM e),
         h0 AS (SELECT node, CAST(1.000000000000 AS DECIMAL(28,12)) AS h
           FROM nodes),
         ${iter(1)},
         ${iter(2)},
         ${iter(3)}
         SELECT node, round(CAST(a AS DOUBLE), 8) AS auth,
           round(CAST(h AS DOUBLE), 8) AS hub
         FROM a3 JOIN h3 USING (node)
         ORDER BY auth DESC, node LIMIT 20"""
    },
    "q_degree_stats" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
           WHERE l_quantity <= 2),
         e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
             AND a.l_suppkey <> b.l_suppkey),
         d AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY 1)
         SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY 1
         ORDER BY degree""",
    "q_link_predict" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
           WHERE l_quantity <= 2),
         und AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
           FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
             AND a.l_suppkey <> b.l_suppkey),
         deg AS (SELECT u, COUNT(*) AS du FROM und GROUP BY 1),
         cn AS (SELECT x.u AS u, y.u AS v, COUNT(*) AS cn
           FROM und x JOIN und y ON x.v = y.v AND x.u < y.u
           GROUP BY 1, 2),
         nc AS (SELECT cn.u, cn.v, cn.cn FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM und
             WHERE und.u = cn.u AND und.v = cn.v))
         SELECT nc.u AS u, nc.v AS v, nc.cn AS cn,
           round(CAST(nc.cn AS DOUBLE)
             / CAST(d1.du + d2.dv - nc.cn AS DOUBLE), 6) AS jacc
         FROM nc JOIN deg d1 ON d1.u = nc.u
           JOIN (SELECT u AS vv, du AS dv FROM deg) d2 ON d2.vv = nc.v
         ORDER BY jacc DESC, u, v LIMIT 20""",
    "q_chi_square" ->
      """WITH cells AS (SELECT lang, source, COUNT(*) AS o
           FROM documents GROUP BY 1, 2),
         rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells
           GROUP BY 1),
         ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cells
           GROUP BY 1),
         tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             COUNT(DISTINCT lang) AS r, COUNT(DISTINCT source) AS c
           FROM cells),
         terms AS (SELECT CAST(round(
             (CAST(o AS DOUBLE)
               - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                 / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE)
               - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                 / CAST(n AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
               / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS cell,
             n, r, c
           FROM cells JOIN rt USING (lang) JOIN ct USING (source)
             CROSS JOIN tot)
         SELECT n, (r - 1) * (c - 1) AS dof,
           round(CAST(SUM(cell) AS DOUBLE), 6) AS chi2,
           round(sqrt(CAST(SUM(cell) AS DOUBLE)
             / (CAST(n AS DOUBLE)
               * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
         FROM terms GROUP BY n, r, c""",
    "q_target_encoding" ->
      """WITH li AS (SELECT p_brand,
             CAST(l_extendedprice AS DECIMAL(14,2))
               * (CAST(1.00 AS DECIMAL(4,2))
                 - CAST(l_discount AS DECIMAL(4,2))) AS rev
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         per AS (SELECT p_brand, COUNT(*) AS n, SUM(rev) AS s
           FROM li GROUP BY 1),
         g AS (SELECT COUNT(*) AS gn, SUM(rev) AS gs FROM li)
         SELECT p_brand, n,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_mean,
           round((CAST(s AS DOUBLE)
               + 50.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
             / (CAST(n AS DOUBLE) + 50.0), 6) AS encoded
         FROM per CROSS JOIN g ORDER BY p_brand""",
    "q_bigram_lm" ->
      """WITH ws AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '') AS ws
           FROM documents),
         bi AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM ws WHERE len(ws) >= 2),
         bg AS (SELECT doc_id, split_part(bigram, ' ', 1) AS x,
             split_part(bigram, ' ', 2) AS y
           FROM bi),
         bc AS (SELECT x, y, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         cx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM bc
           GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT y) AS v FROM bc),
         terms AS (SELECT doc_id,
             CAST(round(ln((CAST(c AS DOUBLE) + 1.0)
               / (CAST(cx AS DOUBLE) + CAST(v AS DOUBLE))), 9)
               AS DECIMAL(18,9)) AS term
           FROM bg JOIN bc USING (x, y) JOIN cx USING (x) CROSS JOIN v)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           round(0.0 - CAST(SUM(term) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_nll
         FROM terms GROUP BY doc_id ORDER BY doc_id""",
    "q_containment" ->
      """WITH w AS (SELECT doc_id, source,
             CAST(n_chars AS BIGINT) // 100 AS blk,
             list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9_]+'), x -> x <> '') AS ws
           FROM documents),
         capped AS (SELECT doc_id, source, blk, ws,
             ROW_NUMBER() OVER (PARTITION BY source, blk
               ORDER BY doc_id) AS rn
           FROM w WHERE len(ws) >= 3),
         t AS (SELECT doc_id, source, blk,
             list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM capped WHERE rn <= 32),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
             CAST(len(a.sh) AS BIGINT) AS la,
             CAST(len(b.sh) AS BIGINT) AS lb
           FROM t a JOIN t b ON a.source = b.source AND a.blk = b.blk
             AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, inter, la, lb,
           round(greatest(CAST(inter AS DOUBLE) / CAST(la AS DOUBLE),
             CAST(inter AS DOUBLE) / CAST(lb AS DOUBLE)), 6)
             AS containment
         FROM p ORDER BY containment DESC, id_a, id_b LIMIT 20""",
    "q_winsorize" ->
      """WITH cut AS (SELECT event_type,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS p05,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95
           FROM events GROUP BY event_type)
         SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < c.p05 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clip_low,
           CAST(SUM(CASE WHEN e.value > c.p95 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clip_high,
           round(CAST(SUM(CAST(greatest(c.p05, least(c.p95, e.value))
             AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS winsorized_mean
         FROM events e JOIN cut c ON e.event_type = c.event_type
         GROUP BY e.event_type ORDER BY e.event_type""",
    "q_golden_record" ->
      """WITH d AS (SELECT doc_id, source, lang, n_chars,
             CAST(n_chars AS BIGINT) // 200 AS bucket
           FROM documents),
         r AS (SELECT source, bucket, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source, bucket
               ORDER BY n_chars DESC, doc_id) AS rn
           FROM d),
         a AS (SELECT source, bucket, COUNT(*) AS n_members,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
           FROM d GROUP BY 1, 2),
         l AS (SELECT source, bucket,
             string_agg(lang, ',' ORDER BY lang) AS langs
           FROM (SELECT DISTINCT source, bucket, lang FROM d)
           GROUP BY 1, 2)
         SELECT r.source, r.bucket, r.doc_id AS keep_id,
           r.n_chars AS keep_chars, a.n_members, a.total_chars, l.langs
         FROM r
           JOIN a ON a.source = r.source AND a.bucket = r.bucket
           JOIN l ON l.source = r.source AND l.bucket = r.bucket
         WHERE r.rn = 1 ORDER BY r.source, r.bucket""",
    "q_entropy" ->
      """WITH w AS (SELECT lang,
             unnest(regexp_split_to_array(lower(text), '[^a-zA-Z0-9_]+'))
               AS w
           FROM documents),
         c AS (SELECT lang, w, COUNT(*) AS c FROM w WHERE w <> ''
           GROUP BY 1, 2),
         a AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS vocab,
             SUM(CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9))
               * CAST(c AS DECIMAL(12,0))) AS sum_clnc
           FROM c GROUP BY 1)
         SELECT lang, n_tokens, vocab,
           round(ln(CAST(n_tokens AS DOUBLE))
             - CAST(sum_clnc AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS entropy
         FROM a ORDER BY lang""",
    "q_rfm" ->
      """WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS us,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
           FROM orders),
         g AS (SELECT MAX(us) AS gmax FROM o),
         per AS (SELECT o_custkey, MAX(us) AS cmax, COUNT(*) AS freq,
             SUM(price) AS mon
           FROM o GROUP BY 1),
         sc AS (SELECT
             4 - least(3, ((gmax - cmax) // 86400000000) // 60)
               AS r_score,
             least(4, freq) AS f_score,
             least(4, 1 + CAST(floor(mon) AS BIGINT) // 200000)
               AS m_score,
             mon
           FROM per CROSS JOIN g)
         SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           CAST(SUM(mon) AS DOUBLE) AS total_monetary
         FROM sc GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""",
    "q_dau_mau" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day,
             CAST(date_trunc('month', ts) AS DATE) AS month, user_id
           FROM events),
         dau AS (SELECT day, month, COUNT(DISTINCT user_id) AS dau
           FROM e GROUP BY 1, 2),
         mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau
           FROM e GROUP BY 1)
         SELECT day, dau.dau, mau.mau,
           round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 6)
             AS stickiness
         FROM dau JOIN mau USING (month) ORDER BY day""",
    "q_ttr" ->
      """WITH w AS (SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-zA-Z0-9_]+'))
               AS w
           FROM documents),
         a AS (SELECT doc_id, COUNT(*) AS n_tok,
             COUNT(DISTINCT w) AS n_types
           FROM w WHERE w <> '' GROUP BY 1)
         SELECT doc_id, n_tok, n_types,
           round(CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)
             AS ttr
         FROM a WHERE n_tok >= 20
         ORDER BY ttr DESC, doc_id LIMIT 50""",
    "q_markov" ->
      """WITH t AS (SELECT event_type AS prev_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
           FROM events),
         c AS (SELECT prev_type, next_type, COUNT(*) AS n
           FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
           round(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6)
             AS p
         FROM c ORDER BY prev_type, next_type""",
    "q_item_cooccur" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS n_ab
           FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
             AND a.p_brand < b.p_brand
           GROUP BY 1, 2),
         bc AS (SELECT p_brand, COUNT(*) AS c FROM ob GROUP BY 1),
         tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob)
         SELECT brand_a, brand_b, n_ab,
           round(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
         FROM pairs
           JOIN bc ca ON ca.p_brand = brand_a
           JOIN bc cb ON cb.p_brand = brand_b
           CROSS JOIN tot
         ORDER BY lift DESC, brand_a, brand_b LIMIT 30""",
    "q_shortest_path" ->
      """WITH RECURSIVE ps AS (SELECT DISTINCT l_partkey, l_suppkey
           FROM lineitem WHERE l_quantity <= 2),
         e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
             AND a.l_suppkey <> b.l_suppkey),
         so AS (SELECT MIN(src) AS sn FROM e),
         bfs(node, d) AS (
           SELECT sn, 0 FROM so
           UNION
           SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.node
           WHERE bfs.d < 4)
         SELECT node, MIN(d) AS dist FROM bfs GROUP BY node
         ORDER BY node""",
    "q_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(
             round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR),
             1, 1) AS INT) AS digit
           FROM lineitem),
         c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
         SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6)
             AS obs_freq,
           round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_freq
         FROM c ORDER BY digit""",
    "q_conversion_lag" ->
      """WITH a AS (SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS fv,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS fp
           FROM events GROUP BY user_id)
         SELECT user_id, (fp - fv) // 60000000 AS lag_minutes
         FROM a
         WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
         ORDER BY user_id""",
    "q_skyline" ->
      """WITH d AS (SELECT p_retailprice AS price, p_size AS size,
             COUNT(*) AS n_parts
           FROM part GROUP BY 1, 2)
         SELECT price, size, n_parts FROM d p
         WHERE NOT EXISTS (SELECT 1 FROM d q
           WHERE q.price <= p.price AND q.size >= p.size
             AND (q.price < p.price OR q.size > p.size))
         ORDER BY price, size""",
    "q_pareto" ->
      """WITH per AS (SELECT user_id,
             SUM(CAST(value AS DECIMAL(18,6))) AS rev
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id),
         tot AS (SELECT SUM(rev) AS t FROM per),
         c AS (SELECT user_id, rev,
             SUM(rev) OVER (ORDER BY rev DESC, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM per)
         SELECT c.user_id, CAST(c.rev AS DOUBLE) AS revenue,
           round(CAST(c.rev AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS share,
           round(CAST(c.cum AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
             AS cum_share
         FROM c CROSS JOIN tot t
         ORDER BY revenue DESC, c.user_id LIMIT 25""",
    "q_twap" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
           FROM events WHERE event_type = 'purchase'),
         d AS (SELECT user_id, value,
             lead(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) - ts_us AS dt_us
           FROM e)
         SELECT user_id, COUNT(*) AS n_obs,
           round(CAST(SUM(CAST(value * dt_us AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(SUM(CAST(dt_us AS DECIMAL(28,6))) AS DOUBLE), 6)
             AS twap
         FROM d WHERE dt_us IS NOT NULL
         GROUP BY user_id ORDER BY user_id""",
    "q_rolling_median" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           round(median(value) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
             AS rolling_median
         FROM events WHERE event_type = 'purchase'
         ORDER BY event_id""",
    "q_asof_tolerance" ->
      """WITH j AS (
           SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
             epoch_us(v.ts) AS m_ts, v.event_id AS m_id
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON p.user_id = v.user_id
               AND epoch_us(p.ts) >= epoch_us(v.ts))
         SELECT event_id, user_id, ts_us,
           CASE WHEN m_ts IS NOT NULL AND ts_us - m_ts <= 1800000000
                THEN m_ts END AS asof_view_ts_us,
           CASE WHEN m_ts IS NOT NULL AND ts_us - m_ts <= 1800000000
                THEN m_id END AS asof_view_event_id,
           coalesce(m_ts IS NOT NULL AND ts_us - m_ts <= 1800000000,
             FALSE) AS within_tolerance
         FROM j ORDER BY event_id""",
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           epoch_us(v.ts) AS asof_view_ts_us,
           v.event_id AS asof_view_event_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id
             AND epoch_us(p.ts) >= epoch_us(v.ts)
         ORDER BY p.event_id""",
    "q_asof_join_native" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           epoch_us(v.ts) AS asof_view_ts_us,
           v.event_id AS asof_view_event_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id
             AND epoch_us(p.ts) >= epoch_us(v.ts)
         ORDER BY p.event_id""",
    "q_centroids" ->
      """SELECT label,
           round(AVG(CAST(embedding[1] AS DOUBLE)), 4) AS c0,
           round(AVG(CAST(embedding[2] AS DOUBLE)), 4) AS c1,
           round(AVG(CAST(embedding[3] AS DOUBLE)), 4) AS c2,
           round(AVG(CAST(embedding[4] AS DOUBLE)), 4) AS c3
         FROM embeddings GROUP BY label ORDER BY label""",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_distinct_agg" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_topk_per_group" ->
      """SELECT o_custkey, rk, o_orderkey, price_cents FROM (
           SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rk,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
           FROM orders) t
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "q_scalar_funcs" ->
      """SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 8) AS name_prefix,
           length(p_type) AS type_len,
           p_size % 7 AS size_mod,
           round(sqrt(p_retailprice), 6) AS price_sqrt,
           concat_ws('|', p_brand, p_type) AS brand_type
         FROM part ORDER BY p_partkey""",
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '[ \t\n]+')) AS n_tokens_ws,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
           round(CAST(length(regexp_replace(text, '[ \t\n]', '', 'g')) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '[ \t\n]+')), 6) AS avg_word_len
         FROM documents ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
           MIN(doc_id) AS keep_doc_id
         FROM documents GROUP BY md5(text) ORDER BY content_hash""",
    // oracle goes brute-force all-pairs (fine at oracle scale); the Spark
    // side uses LSH banding — results must agree because LSH recall at
    // the 0.9+ Jaccard of the planted near-dups is ~1-1e-15
    "dedup_minhash" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> x <> '') AS ws
           FROM documents),
         t AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws)-1, 2)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
           FROM w)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE) /
             (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))), 6)
             AS jaccard
         FROM t a JOIN t b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE) /
             (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))) >= 0.5
         ORDER BY doc_a, doc_b""",
    "dedup_ngram" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> x <> '') AS ws,
             list_filter(regexp_split_to_array(lower(trim(text
               || ' zulu yankee qoph')), '[^a-zA-Z0-9_]+'),
               x -> x <> '') AS wm
           FROM documents),
         t AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws)-1, 2)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS ta,
             list_distinct(list_transform(range(1, greatest(len(wm)-1, 2)),
               i -> wm[i] || ' ' || wm[i+1] || ' ' || wm[i+2])) AS tb
           FROM w)
         SELECT doc_id,
           round(CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
             (len(ta) + len(tb) - len(list_intersect(ta, tb))), 6) AS jaccard
         FROM t ORDER BY doc_id""",
    "neardup_embedding" ->
      """SELECT vec_id AS doc_a, vec_id + 100000 AS doc_b FROM embeddings
         ORDER BY doc_a, doc_b""",
    "ann_bruteforce" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id = 0)
         SELECT vec_id,
           round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                 CAST(embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(qv, qv))), 4) AS cosine
         FROM embeddings, q
         ORDER BY round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                 CAST(embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(qv, qv))), 4) DESC, vec_id
         LIMIT 10""",
    "lang_id" -> langIdOracleSql,
    "quality_score" ->
      """SELECT doc_id,
           round((least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
             + least(1.0, CAST(len(regexp_split_to_array(trim(text),
                 '[ \t\n]+')) AS DOUBLE) / 80.0)
             + CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      AS DOUBLE) / CAST(length(text) AS DOUBLE) END) / 3.0,
             6) AS quality
         FROM documents ORDER BY doc_id""",
    // BPE-ish cost model (SimpleTokenizer): ceil(len/4) per [A-Za-z0-9_]+
    // run, +1 per non-word non-whitespace char; whitespace free
    "text_profile" ->
      """SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(
               regexp_extract_all(text, '[A-Za-z0-9_]+'),
               r -> CAST(ceil(length(r) / 4.0) AS BIGINT))), 0)
             + length(regexp_replace(text, '[A-Za-z0-9_ \t\n\r\f\x0B]',
                 '', 'g'))
             AS INTEGER) AS n_tokens_bpeish
         FROM documents ORDER BY doc_id""",
    "q_window_frames" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
         SELECT o_custkey, o_orderkey,
           lag(cents) OVER w AS prev_cents,
           lead(cents) OVER w AS next_cents,
           first_value(cents) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS first_cents,
           CAST(SUM(cents) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS moving_cents,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q_window_ranks" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
         SELECT o_custkey, o_orderkey,
           CAST(rank() OVER d AS BIGINT) AS rk,
           CAST(dense_rank() OVER d AS BIGINT) AS drk,
           round(cume_dist() OVER d, 6) AS cd,
           nth_value(cents, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS second_cents
         FROM o
         WINDOW d AS (PARTITION BY o_custkey ORDER BY o_orderdate)
         ORDER BY o_custkey, o_orderkey""",
    "q_window_range" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', DATE '1990-01-01',
             CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
         SELECT o_custkey, o_orderkey, day,
           COUNT(*) OVER w AS n_30d,
           CAST(SUM(cents) OVER w AS BIGINT) AS cents_30d
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
    "q_range_join" ->
      """SELECT band_id, COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
         FROM part
         JOIN (VALUES (0, 0.0, 1000.0), (1, 1000.0, 1300.0),
                      (2, 1300.0, 1600.0), (3, 1600.0, 5000.0))
              b(band_id, lo, hi)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band_id ORDER BY band_id""",
    "q_stats_agg" ->
      """SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_date_funcs" ->
      """SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           epoch_us(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)))
             AS month_start_us,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
             AS INTEGER) AS days_since_95,
           epoch_us(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP))
             AS eom_us
         FROM orders ORDER BY o_orderkey""",
    "q_string_fuzzy" ->
      """SELECT p_partkey,
           CAST(levenshtein(substring(p_name, 1, 10), p_brand) AS INTEGER)
             AS lev_dist,
           reverse(p_brand) AS brand_rev,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           split_part(p_type, ' ', 1) AS type_first,
           regexp_extract(p_name, '([a-z]+)$', 1) AS name_last_word,
           CAST(instr(p_name, 'al') AS INTEGER) AS al_pos
         FROM part ORDER BY p_partkey""",
    "q_array_funcs" ->
      """SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 5) AS l2_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           round(list_sum(list_transform(embedding[1:8],
             x -> CAST(x AS DOUBLE))) / 8.0, 6) AS head_mean
         FROM embeddings ORDER BY vec_id""",
    "q_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                               WHERE n_regionkey = 1)
           AND EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_acctbal FROM customer
                    WHERE c_acctbal < 0),
           oa AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
                  GROUP BY o_custkey)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal, n_orders
         FROM c FULL OUTER JOIN oa ON c_custkey = o_custkey
         ORDER BY custkey""",
    "q_json_funcs" ->
      """WITH p AS (SELECT p_partkey,
           '{"size":' || p_size || ',"brand":"' || p_brand || '"}' AS j
         FROM part)
         SELECT p_partkey,
           CAST(json_extract(j, '$.size') AS INTEGER) AS jsize,
           json_extract_string(j, '$.brand') AS jbrand
         FROM p ORDER BY p_partkey""",
    // same truth as the batch events_sessions — the streaming query with
    // custom state must reproduce the batch fold exactly
    "events_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_us IS NULL
                          OR ts_us - prev_us > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_sess
           FROM e),
         g AS (
           SELECT *, CAST(SUM(new_sess) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
         FROM g GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q_sample_hash" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
         ORDER BY o_orderkey""",
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(1 AS BIGINT) AS version
           FROM orders),
         upd AS (SELECT o_orderkey, o_custkey, price_cents + 500,
             CAST(2 AS BIGINT)
           FROM base WHERE o_orderkey % 10 = 0),
         a AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
         SELECT o_orderkey, o_custkey, price_cents, version FROM a
         QUALIFY row_number() OVER
           (PARTITION BY o_orderkey ORDER BY version DESC) = 1
         ORDER BY o_orderkey""",
    "q_tfidf" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(text), '[^a-zA-Z0-9_]+'),
             x -> x <> '')) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
         df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         x AS (SELECT tf.doc_id, tf.word,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
           FROM tf JOIN df USING (word) CROSS JOIN n)
         SELECT doc_id, CAST(rk AS INTEGER) AS rk, word, tfidf FROM (
           SELECT *, row_number() OVER
             (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
           FROM x)
         WHERE rk <= 3 ORDER BY doc_id, rk""",
    // transitive closure over the same brute-force pair set the
    // dedup_minhash oracle derives; UNION (not UNION ALL) in the
    // recursive term makes the closure terminate on cycles
    "dedup_clusters" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> x <> '') AS ws
           FROM documents),
         t AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws)-1, 2)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
           FROM w),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE) /
             (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))) >= 0.5),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS component,
           coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
         ORDER BY d.doc_id""",
    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT event_id, user_id, ts_us FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user_id, ts_us AS view_ts_us FROM e
               WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts_us,
           COUNT(v.view_ts_us) AS n_views_1h
         FROM p LEFT OUTER JOIN v ON p.user_id = v.v_user_id
           AND v.view_ts_us >= p.ts_us - 3600000000
           AND v.view_ts_us <= p.ts_us
         GROUP BY p.event_id, p.user_id, p.ts_us
         ORDER BY p.event_id""",
    "q_vec_quantize" ->
      """WITH q AS (SELECT vec_id, embedding,
           CASE WHEN list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) = 0 THEN 1.0
                ELSE list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) / 127.0 END AS scale
         FROM embeddings)
         SELECT vec_id, round(scale, 6) AS scale_r,
           CAST(greatest(-127, least(127,
             round(CAST(embedding[1] AS DOUBLE) / scale))) AS INTEGER) AS q0,
           CAST(greatest(-127, least(127,
             round(CAST(embedding[2] AS DOUBLE) / scale))) AS INTEGER) AS q1,
           CAST(greatest(-127, least(127,
             round(CAST(embedding[3] AS DOUBLE) / scale))) AS INTEGER) AS q2,
           CAST(greatest(-127, least(127,
             round(CAST(embedding[4] AS DOUBLE) / scale))) AS INTEGER) AS q3
         FROM q ORDER BY vec_id""",
    // every stage of the e2e prep pipeline replayed: brute-force pair set
    // → recursive-closure components → canonical keep → stopword lang ID
    // → quality ratio → BPE-ish token count
    "pipeline_e2e" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> x <> '') AS ws
           FROM documents),
         t AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws)-1, 2)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
           FROM w),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE) /
             (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))) >= 0.5),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         keep AS (
           SELECT d.doc_id, d.text FROM documents d
           LEFT JOIN comp c ON d.doc_id = c.id
           WHERE coalesce(c.component, d.doc_id) = d.doc_id),
         h AS (
           SELECT doc_id, text,
             len(list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> list_contains(
               ['der','die','das','und','ist','nicht','von','mit','ein','zu'], x))) AS de_h,
             len(list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> list_contains(
               ['the','and','of','to','in','is','that','for','with','a'], x))) AS en_h,
             len(list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> list_contains(
               ['el','la','los','las','es','y','de','que','en','por'], x))) AS es_h,
             len(list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> list_contains(
               ['le','la','les','et','est','que','des','dans','pour','une'], x))) AS fr_h
           FROM keep),
         lq AS (
           SELECT doc_id, text,
             CASE WHEN greatest(de_h, en_h, es_h, fr_h) = 0 THEN 'und'
                  WHEN fr_h >= es_h AND fr_h >= en_h AND fr_h >= de_h THEN 'fr'
                  WHEN es_h >= en_h AND es_h >= de_h THEN 'es'
                  WHEN en_h >= de_h THEN 'en'
                  ELSE 'de' END AS lang_pred,
             round((least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
               + least(1.0, CAST(len(regexp_split_to_array(trim(text),
                   '[ \t\n]+')) AS DOUBLE) / 80.0)
               + CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                        AS DOUBLE) / CAST(length(text) AS DOUBLE) END) / 3.0,
               6) AS quality
           FROM h)
         SELECT doc_id, quality,
           CAST(coalesce(list_sum(list_transform(
               regexp_extract_all(text, '[A-Za-z0-9_]+'),
               r -> CAST(ceil(length(r) / 4.0) AS BIGINT))), 0)
             + length(regexp_replace(text, '[A-Za-z0-9_ \t\n\r\f\x0B]',
                 '', 'g'))
             AS INTEGER) AS n_tokens_bpeish
         FROM lq WHERE lang_pred = 'en' AND quality >= 0.5
         ORDER BY doc_id""",
    // brute-force all-pairs — feasible at oracle scale only; the Spark
    // side blocks on delete-1 neighborhoods (recall 1.0 by construction)
    "dedup_fuzzy" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS lev
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b""",
    "q_string_agg" ->
      """SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           COUNT(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_sample_stratified" ->
      """SELECT l_returnflag,
           COUNT(CASE WHEN substring(md5(CAST(l_orderkey AS VARCHAR) || '#'
               || CAST(l_linenumber AS VARCHAR)), 1, 1) <=
               CASE l_returnflag WHEN 'A' THEN '3' WHEN 'N' THEN '7'
                    ELSE '1' END
             THEN 1 END) AS n_sampled,
           COUNT(*) AS n_total
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // same truth as the batch events_hopping — the third streaming window
    // type checked against its batch oracle
    "events_stream_hopping" ->
      """WITH e AS (
           SELECT epoch_us(ts) AS ts_us, event_type,
             unnest([0, 1]) AS hop
           FROM events)
         SELECT (ts_us - (ts_us % 1800000000) - hop * 1800000000)
             AS window_start_us,
           event_type, COUNT(*) AS n
         FROM e GROUP BY 1, 2 ORDER BY window_start_us, event_type""",
    // batch replay of the stream-stream join: same truth, no state store
    "q_psi_drift" ->
      """WITH d AS (SELECT doc_id % 2 = 0 AS in_a,
             CAST(least(floor(n_chars / 100.0), 9.0) AS INTEGER) AS bin
           FROM documents),
         cnt AS (SELECT bin,
             SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS cb
           FROM d GROUP BY bin),
         tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS nb
           FROM cnt)
         SELECT bin, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
           round(((CAST(ca AS DOUBLE)+0.5)/(CAST(ta AS DOUBLE)+0.5*CAST(nb AS DOUBLE))
               - (CAST(cb AS DOUBLE)+0.5)/(CAST(tb AS DOUBLE)+0.5*CAST(nb AS DOUBLE)))
             * ln(((CAST(ca AS DOUBLE)+0.5)/(CAST(ta AS DOUBLE)+0.5*CAST(nb AS DOUBLE)))
               / ((CAST(cb AS DOUBLE)+0.5)/(CAST(tb AS DOUBLE)+0.5*CAST(nb AS DOUBLE)))),
             9) AS psi_term
         FROM cnt CROSS JOIN tot ORDER BY bin""",
    "q_embed_drift" ->
      """WITH dims AS (SELECT CAST(i AS BIGINT) AS i
             FROM generate_series(1, 64) t(i)),
         x AS (SELECT label, vec_id % 2 = 0 AS in_a, i - 1 AS dim,
             CAST(embedding[i] AS DOUBLE) AS e
           FROM embeddings CROSS JOIN dims),
         m AS (SELECT label, dim,
             CAST(SUM(CASE WHEN in_a
                 THEN CAST(e AS DECIMAL(28,12)) END) AS DOUBLE)
               / SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS ma,
             CAST(SUM(CASE WHEN NOT in_a
                 THEN CAST(e AS DECIMAL(28,12)) END) AS DOUBLE)
               / SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS mb
           FROM x GROUP BY label, dim),
         agg AS (SELECT label,
             SUM(CAST(ma*mb AS DECIMAL(28,12))) AS dot,
             SUM(CAST(ma*ma AS DECIMAL(28,12))) AS na,
             SUM(CAST(mb*mb AS DECIMAL(28,12))) AS nb
           FROM m GROUP BY label)
         SELECT label,
           round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
             AS centroid_cosine
         FROM agg ORDER BY label""",
    // join + hourly pair count over the finalized-window region (window
    // end <= final watermark) — the chained-stateful-operator truth
    "events_stream_join_agg" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT event_id, user_id, ts_us FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user_id, ts_us AS view_ts_us FROM e
               WHERE event_type = 'view'),
         j AS (SELECT p.event_id, p.ts_us
           FROM p JOIN v ON p.user_id = v.v_user_id
             AND v.view_ts_us >= p.ts_us - 3600000000
             AND v.view_ts_us <= p.ts_us),
         w AS (SELECT ts_us - (ts_us % 3600000000) AS window_start_us
           FROM j)
         SELECT window_start_us, COUNT(*) AS n_pairs
         FROM w
         WHERE window_start_us + 3600000000 <=
           (SELECT LEAST(
              MAX(CASE WHEN event_type = 'purchase' THEN ts_us END),
              MAX(CASE WHEN event_type = 'view' THEN ts_us END))
              - 7200000000 FROM e)
         GROUP BY window_start_us
         ORDER BY window_start_us""",
    // the emittable (watermark-complete) region of the streaming LEFT
    // OUTER join: purchases strictly below min(side maxima) - 2h have
    // either matched or null-emitted; younger rows are filtered on BOTH
    // sides, so the equality is exact
    "events_stream_left_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT event_id, user_id, ts_us FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT user_id AS v_user_id, event_id AS view_event_id,
               ts_us AS view_ts_us FROM e WHERE event_type = 'view')
         SELECT p.event_id, p.ts_us, v.view_event_id, v.view_ts_us
         FROM p LEFT OUTER JOIN v ON p.user_id = v.v_user_id
           AND v.view_ts_us >= p.ts_us - 3600000000
           AND v.view_ts_us <= p.ts_us
         WHERE p.ts_us <
           (SELECT LEAST(
              MAX(CASE WHEN event_type = 'purchase' THEN ts_us END),
              MAX(CASE WHEN event_type = 'view' THEN ts_us END))
              - 7200000000 FROM e)
         ORDER BY p.event_id, v.view_event_id""",
    "events_stream_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT event_id, user_id, ts_us FROM e
               WHERE event_type = 'purchase'),
         v AS (SELECT event_id AS view_event_id, user_id,
               ts_us AS view_ts_us FROM e WHERE event_type = 'view')
         SELECT p.event_id, v.view_event_id, v.view_ts_us
         FROM p JOIN v ON p.user_id = v.user_id
           AND v.view_ts_us >= p.ts_us - 3600000000
           AND v.view_ts_us <= p.ts_us
         ORDER BY event_id, view_event_id""",
    "q_null_semantics" ->
      """SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_orders_nonnull,
           COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_null,
           COUNT(CASE WHEN o_orderstatus IS NOT DISTINCT FROM 'F' THEN 1 END)
             AS n_f_nullsafe,
           COUNT(NULLIF(o_orderpriority, '1-URGENT')) AS n_not_urgent,
           MIN(COALESCE(o_orderstatus, '~none~')) AS min_status
         FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_unpivot" ->
      """WITH m AS (
           SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
           FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'l_extendedprice', l_extendedprice
           FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
         SELECT l_returnflag, measure,
           CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
         FROM m GROUP BY l_returnflag, measure
         ORDER BY l_returnflag, measure""",
    "q_crossjoin" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",
    "q_grouping_flags" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_setop_all" ->
      """WITH a AS (SELECT l_partkey AS partkey FROM lineitem
                    WHERE l_quantity < 25),
              b AS (SELECT l_partkey AS partkey FROM lineitem
                    WHERE l_discount > 0.03),
              u AS (
           SELECT 'intersect_all' AS op, partkey FROM
             (SELECT partkey FROM a INTERSECT ALL SELECT partkey FROM b)
           UNION ALL
           SELECT 'except_all' AS op, partkey FROM
             (SELECT partkey FROM a EXCEPT ALL SELECT partkey FROM b))
         SELECT op, partkey, COUNT(*) AS n FROM u
         GROUP BY op, partkey ORDER BY op, partkey""",
    "q_lateral_topk" ->
      """SELECT p.o_orderpriority, t.o_orderkey, t.o_totalprice
         FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_orderpriority = p.o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY p.o_orderpriority, t.o_orderkey""",
    "q_first_last" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END
             AS price_n
         FROM orders)
         SELECT o_custkey, o_orderkey,
           last_value(price_n IGNORE NULLS) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS price_filled,
           first_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS first_price
         FROM o ORDER BY o_custkey, o_orderkey""",
    "q_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 25000.0), 19.0) AS BIGINT)
             AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM orders GROUP BY bucket ORDER BY bucket""",
    "q_minmax_norm" ->
      """SELECT c_custkey, c_mktsegment,
           CASE WHEN mx = mn THEN 0.5
                ELSE floor((c_acctbal - mn) / (mx - mn) * 1e6 + 0.5)
                  / 1e6 END AS acctbal_mm
         FROM (SELECT c_custkey, c_mktsegment, c_acctbal,
             min(c_acctbal) OVER (PARTITION BY c_mktsegment) AS mn,
             max(c_acctbal) OVER (PARTITION BY c_mktsegment) AS mx
           FROM customer)
         ORDER BY c_custkey""",
    "q_zscore" ->
      """WITH st AS (SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6)))
             AS DOUBLE) AS s2,
           CAST(COUNT(*) AS DOUBLE) AS cnt
         FROM lineitem GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber, l.l_returnflag AS l_returnflag,
           round((l_quantity - s1/cnt)
             / sqrt(s2/cnt - (s1/cnt)*(s1/cnt)), 6) AS z,
           abs(round((l_quantity - s1/cnt)
             / sqrt(s2/cnt - (s1/cnt)*(s1/cnt)), 6)) > 2.0 AS is_outlier
         FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
         ORDER BY l_orderkey, l_linenumber""",
    "q_ngram_bigrams" ->
      """WITH ws AS (SELECT list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '') AS ws
           FROM documents),
         bi AS (SELECT unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM ws WHERE len(ws) >= 2)
         SELECT bigram, COUNT(*) AS n FROM bi
         GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""",
    "q_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(text), '[^a-zA-Z0-9_]+'),
             x -> x <> '')) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w
                GROUP BY doc_id, word),
         df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
         dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
                GROUP BY doc_id),
         nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         sc AS (SELECT tf.doc_id, tf.word,
             round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
           FROM tf JOIN df USING (word) JOIN dl USING (doc_id), nd, ad),
         rk AS (SELECT doc_id, word, bm25,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY bm25 DESC, word) AS rk
           FROM sc)
         SELECT doc_id, rk, word, bm25 FROM rk WHERE rk <= 3
         ORDER BY doc_id, rk""",
    "q_pii_redact" ->
      """WITH t AS (SELECT doc_id,
           'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text
             AS t
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '\+[0-9][0-9-]{7,}')) AS BIGINT)
             AS n_phones,
           length(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9][0-9-]{7,}', '<PHONE>', 'g')) AS redacted_len
         FROM t ORDER BY doc_id""",
    "q_gapfill" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us
           FROM events),
         c AS (SELECT event_type, hour_us, COUNT(*) AS n_raw FROM e
               GROUP BY event_type, hour_us),
         b AS (SELECT min(hour_us) AS lo, max(hour_us) AS hi FROM e),
         g AS (SELECT event_type,
             unnest(range(lo, hi + 1, 3600000000)) AS hour_us
           FROM (SELECT DISTINCT event_type FROM e), b)
         SELECT g.event_type AS event_type, g.hour_us AS hour_us,
           COALESCE(n_raw, 0) AS n
         FROM g LEFT JOIN c
           ON g.event_type = c.event_type AND g.hour_us = c.hour_us
         ORDER BY event_type, hour_us""",
    // batch DISTINCT truth for the doubled-and-deduped stream
    "events_stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS n FROM events
         GROUP BY event_type ORDER BY event_type""",
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
           FROM events),
         t1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY user_id),
         t2 AS (SELECT user_id, min(ts_us) AS t2 FROM e JOIN t1
                USING (user_id)
                WHERE event_type = 'view' AND ts_us > t1 GROUP BY user_id),
         t3 AS (SELECT user_id, min(ts_us) AS t3 FROM e JOIN t2
                USING (user_id)
                WHERE event_type = 'click' AND ts_us > t2 GROUP BY user_id),
         t4 AS (SELECT user_id, min(ts_us) AS t4 FROM e JOIN t3
                USING (user_id)
                WHERE event_type = 'purchase' AND ts_us > t3
                GROUP BY user_id)
         SELECT step, n_users FROM (
           SELECT '1_signup' AS step, COUNT(*) AS n_users FROM t1
           UNION ALL SELECT '2_view', COUNT(*) FROM t2
           UNION ALL SELECT '3_click', COUNT(*) FROM t3
           UNION ALL SELECT '4_purchase', COUNT(*) FROM t4)
         ORDER BY step""",
    "q_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM e
               GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, day FROM e)
         SELECT cohort_day, day - cohort_day AS offset_days,
           COUNT(DISTINCT user_id) AS n_active
         FROM a JOIN c USING (user_id)
         GROUP BY cohort_day, offset_days
         ORDER BY cohort_day, offset_days""",
    "dedup_keep_best" ->
      """WITH q AS (SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS norm_key,
           round((least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
             + least(1.0, CAST(len(regexp_split_to_array(trim(text),
                 '[ \t\n]+')) AS DOUBLE) / 80.0)
             + CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '',
                      'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
             / 3.0, 6) AS quality
           FROM documents),
         r AS (SELECT doc_id, norm_key, quality,
             row_number() OVER (PARTITION BY norm_key
               ORDER BY quality DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY norm_key) AS n_dups
           FROM q)
         SELECT doc_id, norm_key, n_dups, quality FROM r WHERE rk = 1
         ORDER BY doc_id""",
    "q_not_in_null" ->
      """SELECT
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
             AS n_no_null,
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN
              (SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
                           ELSE o_custkey END FROM orders))
             AS n_with_null""",
    "q_percentile_disc" ->
      """SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
             AS med_qty_disc,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
             AS p90_price_disc
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the same truth stated map-free: the Spark side's map build/probe/
    // explode round-trip must be lossless against it
    "q_map_funcs" ->
      """WITH per AS (SELECT o_custkey, o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS v
           FROM orders GROUP BY o_custkey, o_orderpriority),
         n AS (SELECT o_custkey, COUNT(*) AS n_prios FROM per
               GROUP BY o_custkey),
         u AS (SELECT o_custkey, v AS urgent_total FROM per
               WHERE o_orderpriority = '1-URGENT')
         SELECT per.o_custkey AS o_custkey, n.n_prios, u.urgent_total,
           per.o_orderpriority AS prio, per.v AS total
         FROM per JOIN n USING (o_custkey) LEFT JOIN u USING (o_custkey)
         ORDER BY o_custkey, prio""",
    // same gap-sessionization truth as events_sessions, reshaped to the
    // session_window contract (end = last event + gap)
    "q_session_window" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_us IS NULL
                          OR ts_us - prev_us > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_sess
           FROM e),
         g AS (
           SELECT *, CAST(SUM(new_sess) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, MIN(ts_us) AS start_us,
           MAX(ts_us) + 1800 * 1000000 AS end_us,
           COUNT(*) AS n_events
         FROM g GROUP BY user_id, session_id
         ORDER BY user_id, start_us""",
    "q_supplier_stats" ->
      """SELECT r_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             AS total_acctbal,
           MIN(s_name) AS first_supplier
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_props_json" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_recursive_cte" ->
      """WITH RECURSIVE anc(k, root, depth) AS (
           SELECT n_nationkey, n_nationkey, 0 FROM nation
           WHERE n_nationkey < 5
           UNION ALL
           SELECT n.n_nationkey, a.root, a.depth + 1
           FROM nation n JOIN anc a ON n.n_nationkey = a.k + 5)
         SELECT root, COUNT(*) AS chain_len,
           CAST(MAX(depth) AS INTEGER) AS max_depth
         FROM anc GROUP BY root ORDER BY root""",
    "q_filter_agg" ->
      """SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity < 10) AS n_small,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
             FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted,
           MAX(l_quantity) FILTER (WHERE l_linestatus = 'F') AS max_qty_f
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "events_stream_static_join" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY c_mktsegment, event_type
         ORDER BY c_mktsegment, event_type""",
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '') AS ws
           FROM documents),
         graw AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
             i -> array_to_string(ws[i:i+7], ' '))) AS g
           FROM toks WHERE len(ws) >= 8),
         grams AS (SELECT DISTINCT doc_id, g FROM graw),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50),
         train AS (SELECT doc_id, g FROM grams WHERE doc_id >= 50),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM train
                 GROUP BY doc_id),
         hit AS (SELECT t.doc_id, COUNT(*) AS n_shared
                 FROM train t JOIN bench b USING (g) GROUP BY t.doc_id)
         SELECT t.doc_id, h.n_shared, t.n_grams,
           ROUND(h.n_shared / t.n_grams, 6) AS ratio
         FROM tot t JOIN hit h ON t.doc_id = h.doc_id
         WHERE h.n_shared > 0
         ORDER BY t.doc_id""",
    "q_variant" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           COUNT(json_extract(props, '$.missing')) AS n_missing
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_seq_packing" ->
      """WITH d AS (SELECT doc_id, doc_id % 16 AS shard,
             (length(text) + 3) // 4 AS tok
           FROM documents),
         c AS (SELECT shard, doc_id, tok,
             CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM d)
         SELECT shard, CAST((cum - tok) // 2048 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS toks
         FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""",
    "q_token_budget" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS domain,
             (length(text) + 3) // 4 AS tok
           FROM documents),
         c AS (SELECT domain, doc_id, tok,
             CAST(SUM(tok) OVER (PARTITION BY domain ORDER BY tok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM d)
         SELECT domain, COUNT(*) AS n_docs,
           CAST(MAX(cum) AS BIGINT) AS used_tokens,
           CAST(MAX(tok) AS BIGINT) AS max_doc_tokens
         FROM c WHERE cum <= 20000
         GROUP BY domain ORDER BY domain""",
    "q_union_by_name" ->
      """WITH u AS (
           SELECT event_id, event_type, props, NULL::DOUBLE AS value
           FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT event_id, event_type, NULL AS props, value
           FROM events WHERE event_id % 2 = 1)
         SELECT event_type, COUNT(*) AS n,
           COUNT(props) AS n_props, COUNT(value) AS n_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM u GROUP BY event_type ORDER BY event_type""",
    "q_repetition" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
             i -> array_to_string(ws[i:i+2], ' '))) AS g
           FROM toks WHERE len(ws) >= 3)
         SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS n_uniq,
           floor((1.0 - COUNT(DISTINCT g) / COUNT(*)) * 1e6 + 0.5) / 1e6
             AS rep_frac
         FROM g GROUP BY doc_id ORDER BY doc_id""",
    "q_perplexity" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '')) AS w
           FROM documents),
         v AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
         pd AS (SELECT doc_id, COUNT(*) AS n_tok,
             SUM(CAST(round(ln(CAST(cnt AS DOUBLE)), 9)
               AS DECIMAL(28,9))) AS sum_lncnt
           FROM toks JOIN v USING (w) GROUP BY doc_id),
         t AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS total FROM pd)
         SELECT doc_id, n_tok,
           ROUND(ln(total) - CAST(sum_lncnt AS DOUBLE) / n_tok, 6)
             AS mean_nll
         FROM pd CROSS JOIN t ORDER BY doc_id""",
    "q_boilerplate" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '') AS ws
           FROM documents),
         g AS (SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(ws) - 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS g
           FROM toks WHERE len(ws) >= 3),
         df AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g)
         SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df >= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           floor(SUM(CASE WHEN df >= 50 THEN 1 ELSE 0 END) / COUNT(*)
             * 1e6 + 0.5) / 1e6 AS common_frac
         FROM g JOIN df USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_type, ts, epoch_us(ts) AS ts_us
           FROM events),
         m AS (SELECT user_id, event_type, ts, ts_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_type
           FROM e),
         s AS (SELECT user_id, event_type, ts, ts_us FROM m
           WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT user_id, event_type, ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts)
             AS valid_to_us
         FROM s ORDER BY user_id, valid_from_us""",
    "q_attribution" ->
      """SELECT user_id,
           arg_min(event_type, ts) AS first_type,
           arg_max(event_type, ts) AS last_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_bool_bit_agg" ->
      """SELECT c_nationkey,
           bool_and(c_acctbal > 0) AS all_positive,
           bool_or(c_acctbal < 0) AS any_negative,
           CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative,
           CAST(bit_and(c_custkey) AS BIGINT) AS key_and,
           CAST(bit_or(c_custkey) AS BIGINT) AS key_or,
           CAST(bit_xor(c_custkey) AS BIGINT) AS key_xor
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_order_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20 OFFSET 100""",
    "q_posexplode" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> '') AS ws
           FROM documents WHERE doc_id < 100),
         e AS (SELECT doc_id, unnest(list_transform(
             range(1, len(ws) + 1),
             i -> struct_pack(i := i, w := ws[i]))) AS u
           FROM toks)
         SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(u.i * length(u.w)) AS BIGINT) AS checksum
         FROM e GROUP BY doc_id ORDER BY doc_id""",
    "fingerprint_stats" ->
      """WITH s AS (SELECT doc_id,
             regexp_replace(lower(text), '\s+', ' ', 'g') AS t
           FROM documents),
         g AS (SELECT doc_id, t, len(t) AS L, len(t) - 7 AS n FROM s),
         h AS (SELECT doc_id, L, n,
             CASE WHEN L < 8 THEN CAST([] AS BIGINT[])
             ELSE list_transform(range(1, n + 1), i ->
               list_reduce(
                 list_prepend(CAST(-3750763034362895579 AS BIGINT),
                   list_transform(range(0, 8), j -> unicode(t[i+j:i+j]))),
                 (acc, c) -> CAST(CASE WHEN (((CAST(xor(acc, c) AS HUGEINT)
                     * 1099511628211) % 18446744073709551616
                     + 18446744073709551616) % 18446744073709551616)
                     >= 9223372036854775808
                   THEN (((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                     % 18446744073709551616 + 18446744073709551616)
                     % 18446744073709551616) - 18446744073709551616
                   ELSE (((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                     % 18446744073709551616 + 18446744073709551616)
                     % 18446744073709551616)
                   END AS BIGINT)))
             END AS hashes
           FROM g)
         SELECT doc_id,
           CAST(CASE WHEN L = 0 THEN 0 WHEN L < 8 THEN 1
                WHEN n < 16 THEN 1
                ELSE len(list_distinct(list_transform(range(0, n // 16),
                  s -> list_min(hashes[s*16+1 : s*16+16]))))
           END AS INTEGER) AS n_fingerprint
         FROM h ORDER BY doc_id""",
    // the fingerprint_stats kernel's VALUES, joined fingerprint-keyed
    // with the same df<=16 boilerplate cap (fixture texts are all
    // >= 23 normalized chars, so only the general winnowing branch and
    // its n<16 min-fallback can occur)
    "q_winnowing_pairs" ->
      """WITH s AS (SELECT doc_id,
             regexp_replace(lower(text), '\s+', ' ', 'g') AS t
           FROM documents),
         g AS (SELECT doc_id, t, len(t) AS L, len(t) - 7 AS n FROM s),
         h AS (SELECT doc_id, L, n,
             list_transform(range(1, n + 1), i ->
               list_reduce(
                 list_prepend(CAST(-3750763034362895579 AS BIGINT),
                   list_transform(range(0, 8), j -> unicode(t[i+j:i+j]))),
                 (acc, c) -> CAST(CASE WHEN (((CAST(xor(acc, c) AS HUGEINT)
                     * 1099511628211) % 18446744073709551616
                     + 18446744073709551616) % 18446744073709551616)
                     >= 9223372036854775808
                   THEN (((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                     % 18446744073709551616 + 18446744073709551616)
                     % 18446744073709551616) - 18446744073709551616
                   ELSE (((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                     % 18446744073709551616 + 18446744073709551616)
                     % 18446744073709551616)
                   END AS BIGINT))) AS hashes
           FROM g),
         fps AS (SELECT doc_id,
             CASE WHEN n < 16 THEN [list_min(hashes)]
             ELSE list_distinct(list_transform(range(0, n // 16),
               s2 -> list_min(hashes[s2*16+1 : s2*16+16]))) END AS fset
           FROM h),
         fp AS (SELECT doc_id, unnest(fset) AS fp FROM fps),
         keep AS (SELECT fp FROM
           (SELECT fp, COUNT(*) AS df FROM fp GROUP BY 1)
           WHERE df BETWEEN 2 AND 16),
         f2 AS (SELECT doc_id, fp.fp FROM fp JOIN keep USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS shared
         FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2
         ORDER BY shared DESC, id_a, id_b LIMIT 20""",
    "q_knn_eval" ->
      """WITH p AS (SELECT vec_id AS probe_id, label AS own_label,
             CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nbr_id, label AS nbr_label,
             CAST(embedding AS DOUBLE[]) AS nv
           FROM embeddings WHERE vec_id >= 20),
         sc AS (SELECT probe_id, own_label, nbr_id, nbr_label,
             round(list_dot_product(nv, qv) /
               (sqrt(list_dot_product(nv, nv)) *
                sqrt(list_dot_product(qv, qv))), 4) AS cos4
           FROM c CROSS JOIN p),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY probe_id ORDER BY cos4 DESC, nbr_id) AS rnk
           FROM sc)
         SELECT probe_id, own_label,
           CAST(SUM(CASE WHEN nbr_label = own_label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_same,
           arg_min(nbr_label, rnk) AS top1_label
         FROM r WHERE rnk <= 10
         GROUP BY probe_id, own_label ORDER BY probe_id""",
    "q_explode_outer" ->
      """WITH t AS (SELECT doc_id, list_filter(list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
             w -> w <> ''), x -> x LIKE 'q%') AS qs
           FROM documents),
         e AS (SELECT doc_id, unnest(CASE WHEN qs IS NULL OR len(qs) = 0
             THEN [NULL]::VARCHAR[] ELSE qs END) AS w
           FROM t)
         SELECT doc_id, COUNT(*) AS n_rows, COUNT(w) AS n_words
         FROM e GROUP BY doc_id ORDER BY doc_id""",
    "q_try_funcs" ->
      """SELECT p_partkey,
           TRY_CAST(split_part(p_type, ' ', 1) AS INT) AS bad_cast,
           TRY_CAST(CAST(p_size AS VARCHAR) AS INT) AS good_cast,
           p_retailprice / NULLIF(p_size - p_size, 0) AS div_zero,
           ROUND(p_retailprice / NULLIF(p_size, 0), 6) AS div_ok,
           CAST(CASE WHEN p_partkey = 0 THEN 9223372036854775807
                ELSE NULL END AS BIGINT) AS overflow
         FROM part ORDER BY p_partkey""",
    "q_snapshot" ->
      """WITH e AS (SELECT user_id, event_type, ts, epoch_us(ts) AS ts_us
           FROM events),
         m AS (SELECT user_id, event_type, ts, ts_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_type
           FROM e),
         s AS (SELECT user_id, event_type, ts, ts_us FROM m
           WHERE prev_type IS NULL OR prev_type <> event_type),
         iv AS (SELECT user_id, event_type, ts_us AS valid_from_us,
             lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts)
               AS valid_to_us
           FROM s)
         SELECT event_type, COUNT(*) AS n_users
         FROM iv
         WHERE valid_from_us <= 1704240000000000
           AND (valid_to_us IS NULL OR valid_to_us > 1704240000000000)
         GROUP BY event_type ORDER BY event_type""",
    // md5("42:" || id)-uniform thresholding, the splitAssign replay:
    // same first-8-hex-digits -> 32-bit uniform as q_weighted_sample
    "q_split_assign" ->
      """WITH u AS (SELECT doc_id,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         v AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', h[i:i]) - 1 AS BIGINT)),
             (a, d) -> a * 16 + d) AS hv
           FROM u),
         s AS (SELECT doc_id,
             round((CAST(hv AS DOUBLE) + 0.5) / 4294967296.0, 6) AS split_u
           FROM v)
         SELECT doc_id, split_u,
           CASE WHEN split_u < 0.9 THEN 'train'
                WHEN split_u < 0.95 THEN 'val'
                ELSE 'test' END AS split
         FROM s ORDER BY doc_id""",
    // dedup_clusters' closure composed with q_split_assign's md5 fold,
    // keyed on the COMPONENT — members of a component share a split
    "q_leakage_safe_split" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '[^a-zA-Z0-9_]+'), x -> x <> '') AS ws
           FROM documents),
         t AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws)-1, 2)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
           FROM w),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM t a JOIN t b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE) /
             (len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg))) >= 0.5),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         cc AS (SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         hh AS (SELECT doc_id, component,
             md5('42:' || CAST(component AS VARCHAR)) AS h
           FROM cc),
         hv AS (SELECT doc_id, component, list_reduce(list_transform(
             range(1, 9),
             i -> CAST(strpos('0123456789abcdef', h[i:i]) - 1 AS BIGINT)),
             (a, d) -> a * 16 + d) AS v
           FROM hh),
         s AS (SELECT doc_id, component,
             round((CAST(v AS DOUBLE) + 0.5) / 4294967296.0, 6) AS split_u
           FROM hv)
         SELECT doc_id, component,
           CASE WHEN split_u < 0.9 THEN 'train'
                WHEN split_u < 0.95 THEN 'val'
                ELSE 'test' END AS split
         FROM s ORDER BY doc_id""",
    "q_kmv_overlap" -> kmvOverlapOracleSql,
    "docs_stream_kmv" -> kmvDistinctOracleSql,
    // streaming ingest near-dup: the full shingle->minhash->band->
    // bucket pipeline replayed bit-for-bit (Duck.mix64/fnv twins)
    "docs_stream_neardup" -> docsStreamNeardupOracleSql,
    "q_shingle_gen" -> shingleGenOracleSql,
    "q_source_repetition" -> sourceRepetitionOracleSql,
    // HHI: exact DECIMAL supplier revenue, 9dp squared-share terms
    // DECIMAL-summed (group order immaterial), final round at 6dp
    "q_hhi" ->
      """WITH rev AS (SELECT s_nationkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))
               * (CAST(1.00 AS DECIMAL(4,2))
                 - CAST(l_discount AS DECIMAL(4,2)))) AS rv
           FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
           GROUP BY 1, 2),
         tot AS (SELECT s_nationkey, SUM(rv) AS tv,
             COUNT(*) AS n_suppliers
           FROM rev GROUP BY 1),
         terms AS (SELECT rev.s_nationkey, tot.n_suppliers,
             CAST(round(
               (CAST(rv AS DOUBLE) / CAST(tv AS DOUBLE))
               * (CAST(rv AS DOUBLE) / CAST(tv AS DOUBLE))
               * 10000.0, 9) AS DECIMAL(18,9)) AS term
           FROM rev JOIN tot USING (s_nationkey)),
         h AS (SELECT s_nationkey, MIN(n_suppliers) AS n_suppliers,
             round(CAST(SUM(term) AS DOUBLE), 6) AS hhi
           FROM terms GROUP BY 1)
         SELECT n_name, n_suppliers, hhi
         FROM h JOIN nation ON n_nationkey = s_nationkey
         ORDER BY n_name""",
    // Cohen's kappa: integer-sum mean thresholds, exact contingency
    // cells, single final-row divisions rounded at 6dp
    "q_cohen_kappa" ->
      """WITH d AS (SELECT n_chars,
             CAST(length(text) - length(replace(text, ' ', ''))
               AS BIGINT) AS n_spaces
           FROM documents),
         thr AS (SELECT
             CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avg_chars,
             CAST(SUM(n_spaces) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS avg_spaces
           FROM d),
         r AS (SELECT
             CAST(n_chars AS DOUBLE) >= avg_chars AS a_hi,
             CAST(n_spaces AS DOUBLE) >= avg_spaces AS b_hi
           FROM d CROSS JOIN thr),
         cells AS (SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN a_hi AND b_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN NOT a_hi AND NOT b_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN a_hi AND NOT b_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN NOT a_hi AND b_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n01
           FROM r)
         SELECT n, n11, n00, n10, n01,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
               + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                 + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / (1.0
               - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                 + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
             AS kappa
         FROM cells""",
    // Count-Min: identical native-FNV "j:key" bucket folds rebuild the
    // same 4x256 sketch; probes are the exact-heaviest 8 keys
    "q_countmin" -> countminOracleSql,
    // PSM ATT: md5-fold arm, backward-nearest control carried by one
    // IGNORE NULLS window per segment, exact DECIMAL outcome sums
    "q_psm_att" ->
      """WITH o AS (SELECT o_custkey AS c_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS outcome
           FROM orders GROUP BY 1),
         c AS (SELECT c_custkey, c_mktsegment, c_acctbal, outcome,
             (CAST(list_reduce(list_transform(range(1, 9),
               i -> CAST(strpos('0123456789abcdef',
                 (md5('17:' || CAST(c_custkey AS VARCHAR)))[i:i]) - 1
                 AS BIGINT)), (a, d) -> a * 16 + d) AS DOUBLE)
               + 0.5) / 4294967296.0 < 0.5 AS treated
           FROM customer JOIN o USING (c_custkey)),
         m AS (SELECT *,
             last_value(CASE WHEN NOT treated THEN outcome END
               IGNORE NULLS) OVER w AS matched,
             last_value(CASE WHEN NOT treated THEN c_acctbal END
               IGNORE NULLS) OVER w AS matched_bal
           FROM c
           WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal, CAST(treated AS INT), c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         agg AS (SELECT
             CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treated,
             CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END)
               AS BIGINT) AS n_control,
             CAST(SUM(CASE WHEN treated AND matched IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             SUM(CASE WHEN treated AND matched IS NOT NULL
               THEN outcome - matched END) AS sdiff,
             SUM(CASE WHEN treated AND matched IS NOT NULL
               THEN c_acctbal - matched_bal END) AS sgap,
             SUM(CASE WHEN treated THEN outcome END) AS st,
             SUM(CASE WHEN NOT treated THEN outcome END) AS sc
           FROM m)
         SELECT n_treated, n_control, n_matched,
           round(CAST(sdiff AS DOUBLE) / CAST(n_matched AS DOUBLE), 6)
             AS att,
           round(CAST(sgap AS DOUBLE) / CAST(n_matched AS DOUBLE), 6)
             AS avg_bal_gap,
           round(CAST(st AS DOUBLE) / CAST(n_treated AS DOUBLE)
             - CAST(sc AS DOUBLE) / CAST(n_control AS DOUBLE), 6)
             AS naive_diff
         FROM agg""",
    // Dickey–Fuller: closed-form OLS of Δrev on lag(rev) from exact
    // DECIMAL moment sums; RSS via moments (Syy − β·Sxy), no residual
    // pass; (19,2) factor casts force DuckDB's hugeint product path
    "q_adf_test" -> {
      val sxxc =
        """(CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
             / CAST(n AS DOUBLE))"""
      val sxyc =
        """(CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
             / CAST(n AS DOUBLE))"""
      val syyc =
        """(CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
             / CAST(n AS DOUBLE))"""
      val beta = s"($sxyc / $sxxc)"
      val se =
        s"""sqrt(greatest(($syyc - $beta * $sxyc)
             / (CAST(n AS DOUBLE) - 2.0) / $sxxc, 0.0))"""
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev
           FROM orders GROUP BY 1),
         lagd AS (SELECT
             CAST(rev AS DECIMAL(19,2))
               - lag(CAST(rev AS DECIMAL(19,2)), 1)
                 OVER (ORDER BY day) AS y,
             lag(CAST(rev AS DECIMAL(19,2)), 1)
               OVER (ORDER BY day) AS x
           FROM daily),
         f AS (SELECT y, x FROM lagd WHERE x IS NOT NULL),
         m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
           FROM f)
         SELECT n AS n_obs,
           round($beta, 9) + 0.0 AS beta,
           round($se, 9) + 0.0 AS se_beta,
           round($beta / $se, 6) + 0.0 AS adf_t
         FROM m"""
    },
    // Granger: restricted vs unrestricted OLS both closed-form from
    // one exact moment pass (2x2 normal equations)
    "q_granger" -> {
      def c(ab: String, a: String, b: String) =
        s"""(CAST(s$ab AS DOUBLE)
           - CAST(s$a AS DOUBLE) * CAST(s$b AS DOUBLE)
             / CAST(n AS DOUBLE))"""
      val cuu = c("uu", "u", "u"); val cvv = c("vv", "v", "v")
      val cuv = c("uv", "u", "v"); val cuy = c("uy", "u", "y")
      val cvy = c("vy", "v", "y"); val cyy = c("yy", "y", "y")
      val det = s"($cuu * $cvv - $cuv * $cuv)"
      val b1 = s"(($cvv * $cuy - $cuv * $cvy) / $det)"
      val b2 = s"(($cuu * $cvy - $cuv * $cuy) / $det)"
      val rssU = s"($cyy - $b1 * $cuy - $b2 * $cvy)"
      val rssR = s"($cyy - $cuy * $cuy / $cuu)"
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev,
             CAST(COUNT(*) AS DECIMAL(18,2)) AS cnt
           FROM orders GROUP BY 1),
         lagd AS (SELECT CAST(rev AS DECIMAL(19,2)) AS y,
             lag(CAST(rev AS DECIMAL(19,2)), 1)
               OVER (ORDER BY day) AS u,
             lag(CAST(cnt AS DECIMAL(19,2)), 1)
               OVER (ORDER BY day) AS v
           FROM daily),
         f AS (SELECT y, u, v FROM lagd WHERE u IS NOT NULL),
         m AS (SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(u) AS su,
             SUM(v) AS sv, SUM(u * y) AS suy, SUM(v * y) AS svy,
             SUM(u * u) AS suu, SUM(v * v) AS svv, SUM(u * v) AS suv,
             SUM(y * y) AS syy
           FROM f)
         SELECT n AS n_obs,
           round($b1, 9) + 0.0 AS b_lag_rev,
           round($b2, 9) + 0.0 AS b_lag_cnt,
           round(1.0 - $rssR / $cyy, 6) + 0.0 AS r2_r,
           round(1.0 - $rssU / $cyy, 6) + 0.0 AS r2_u,
           round(($rssR - $rssU)
             / ($rssU / (CAST(n AS DOUBLE) - 3.0)), 6) + 0.0 AS f_stat
         FROM m"""
    },
    // Ljung–Box: 6-dp demeaned series, lag-k autocovariances as exact
    // DECIMAL sums over a rank-offset self-join, rho rounded before
    // squaring, cumulative Q over the 7 lag rows
    "q_ljung_box" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev
           FROM orders GROUP BY 1),
         mom AS (SELECT COUNT(*) AS n, SUM(rev) AS sm FROM daily),
         d AS (SELECT n, row_number() OVER (ORDER BY day) AS rn,
             CAST(round(CAST(rev AS DOUBLE)
               - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
               AS DECIMAL(18,6)) AS dd
           FROM daily CROSS JOIN mom),
         den AS (SELECT MAX(n) AS n_days,
             SUM(CAST(dd AS DECIMAL(19,6))
               * CAST(dd AS DECIMAL(19,6))) AS den
           FROM d),
         lags AS (SELECT CAST(range AS BIGINT) AS lag_k
           FROM range(1, 8)),
         pairs AS (SELECT lag_k,
             SUM(CAST(d1.dd AS DECIMAL(19,6))
               * CAST(d2.dd AS DECIMAL(19,6))) AS num
           FROM d d1 CROSS JOIN lags
           JOIN d d2 ON d2.rn = d1.rn - lag_k
           GROUP BY 1),
         rho AS (SELECT lag_k, n_days,
             round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0
               AS rho
           FROM pairs CROSS JOIN den)
         SELECT lag_k, rho,
           round(SUM(CAST(n_days AS DOUBLE)
               * (CAST(n_days AS DOUBLE) + 2.0) * rho * rho
               / (CAST(n_days AS DOUBLE) - CAST(lag_k AS DOUBLE)))
             OVER (ORDER BY lag_k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS q_cum
         FROM rho ORDER BY lag_k""",
    // Hurst R/S: full blocks of 8/16/32/64 days, block-local cumsum
    // range over population sigma (exact DECIMAL block sums), log2
    // rounded at 9 dp then DECIMAL slope over integer k
    "q_hurst" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev
           FROM orders GROUP BY 1),
         rn AS (SELECT row_number() OVER (ORDER BY day) AS rn, rev
           FROM daily),
         sizes AS (SELECT CAST(range AS INT) AS k,
             CAST(power(2, range) AS BIGINT) AS m
           FROM range(3, 7)),
         blk AS (SELECT k, m, rn.rn AS rn, rev,
             CAST(floor((rn.rn - 1) / m) AS BIGINT) AS b
           FROM rn CROSS JOIN sizes),
         bm AS (SELECT k, m, b, COUNT(*) AS cnt,
             SUM(CAST(rev AS DECIMAL(19,2))) AS bs,
             SUM(CAST(rev AS DECIMAL(19,2))
               * CAST(rev AS DECIMAL(19,2))) AS bs2
           FROM blk GROUP BY 1, 2, 3),
         bmf AS (SELECT * FROM bm WHERE cnt = m),
         dev AS (SELECT blk.k AS k, blk.b AS b, blk.rn AS rn,
             CAST(round(CAST(rev AS DOUBLE)
               - CAST(bs AS DOUBLE) / CAST(blk.m AS DOUBLE), 6) + 0.0
               AS DECIMAL(18,6)) AS e
           FROM blk JOIN bmf ON blk.k = bmf.k AND blk.b = bmf.b),
         cum AS (SELECT k, b,
             SUM(e) OVER (PARTITION BY k, b ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
           FROM dev),
         rng AS (SELECT k, b, MAX(cum) - MIN(cum) AS r
           FROM cum GROUP BY 1, 2),
         rs AS (SELECT rng.k AS k, bmf.m AS m,
             CAST(round(CAST(r AS DOUBLE) / sqrt(greatest(
               CAST(bs2 AS DOUBLE) / CAST(bmf.m AS DOUBLE)
               - (CAST(bs AS DOUBLE) / CAST(bmf.m AS DOUBLE))
                 * (CAST(bs AS DOUBLE) / CAST(bmf.m AS DOUBLE)),
               1e-12)), 6) + 0.0 AS DECIMAL(18,6)) AS rs
           FROM rng JOIN bmf ON rng.k = bmf.k AND rng.b = bmf.b),
         rsm AS (SELECT k, m, COUNT(*) AS n_blocks,
             round(CAST(SUM(rs) AS DOUBLE) / COUNT(*), 6) + 0.0
               AS rs_mean
           FROM rs GROUP BY 1, 2),
         rsl AS (SELECT *,
             CAST(round(log2(rs_mean), 9) + 0.0 AS DECIMAL(18,9)) AS lg
           FROM rsm),
         slope AS (SELECT COUNT(*) AS np, SUM(k) AS sk, SUM(lg) AS sl,
             SUM(k * lg) AS skl, SUM(k * k) AS skk
           FROM rsl)
         SELECT m, n_blocks, rs_mean,
           round((CAST(np AS DOUBLE) * CAST(skl AS DOUBLE)
               - CAST(sk AS DOUBLE) * CAST(sl AS DOUBLE))
             / (CAST(np AS DOUBLE) * CAST(skk AS DOUBLE)
               - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)), 6) + 0.0
             AS hurst
         FROM rsl CROSS JOIN slope ORDER BY m""",
    // Bloom filter rebuilt bit-for-bit from the md5 folds; no-false-
    // negative + measured-FPR readout
    "q_bloom_join" -> {
      val fold = (e: String) =>
        s"""list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', ($e)[i:i]) - 1
               AS BIGINT)), (a, d) -> a * 16 + d)"""
      val bit = fold("md5(CAST(j AS VARCHAR) || ':' " +
        "|| CAST(c_custkey AS VARCHAR))") + " % 4096"
      s"""WITH cust AS (SELECT c_custkey,
             c_mktsegment = 'BUILDING' AS mem
           FROM customer),
         js AS (SELECT CAST(range AS INT) AS j FROM range(0, 4)),
         bits AS (SELECT DISTINCT $bit AS bit
           FROM cust CROSS JOIN js WHERE mem),
         pb AS (SELECT c_custkey, mem, $bit AS bit
           FROM cust CROSS JOIN js),
         pj AS (SELECT c_custkey, mem,
             SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
               AS hits
           FROM pb LEFT JOIN bits ON pb.bit = bits.bit
           GROUP BY 1, 2),
         ag AS (SELECT
             CAST(SUM(CASE WHEN mem THEN 1 ELSE 0 END) AS BIGINT)
               AS n_build,
             COUNT(*) AS n_probe,
             CAST(SUM(CASE WHEN hits = 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
             CAST(SUM(CASE WHEN hits = 4 AND NOT mem THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fp,
             CAST(SUM(CASE WHEN hits < 4 AND mem THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fn
           FROM pj)
         SELECT n_build, n_probe, n_pass, n_fp, n_fn,
           round(CAST(n_fp AS DOUBLE)
             / CAST(n_probe - n_build AS DOUBLE), 6) AS fpr
         FROM ag"""
    },
    // AMS: identical 16 md5-parity sign streams, median of 4 means as
    // (s4_(2) + s4_(3)) / 8 in pure integers
    "q_ams_f2" -> {
      val fold = (e: String) =>
        s"""list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef', ($e)[i:i]) - 1
               AS BIGINT)), (a, d) -> a * 16 + d)"""
      val sign = "CASE WHEN " + fold("md5(CAST(e AS VARCHAR) || ':' " +
        "|| CAST(l_partkey AS VARCHAR))") +
        " % 2 = 0 THEN 1 ELSE -1 END"
      s"""WITH freq AS (SELECT l_partkey, COUNT(*) AS cnt
           FROM lineitem GROUP BY 1),
         exact AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_f2
           FROM freq),
         es AS (SELECT CAST(range AS INT) AS e FROM range(0, 16)),
         sg AS (SELECT e, ($sign) * cnt AS term
           FROM freq CROSS JOIN es),
         z AS (SELECT e, CAST(SUM(term) AS BIGINT) AS zz
           FROM sg GROUP BY 1),
         grp AS (SELECT e // 4 AS g, CAST(SUM(zz * zz) AS BIGINT) AS s4
           FROM z GROUP BY 1),
         rk AS (SELECT s4, row_number() OVER (ORDER BY s4, g) AS rk
           FROM grp),
         med AS (SELECT CAST(SUM(s4) AS DOUBLE) / 8.0 AS ams_est
           FROM rk WHERE rk IN (2, 3))
         SELECT exact_f2, round(ams_est, 2) AS ams_est,
           round((ams_est - CAST(exact_f2 AS DOUBLE))
             / CAST(exact_f2 AS DOUBLE), 6) AS rel_err
         FROM med CROSS JOIN exact"""
    },
    // BH step-up on the same 6-dp z / A&S 26.2.17 tail / 9-dp p
    "q_bh_fdr" -> {
      val tail =
        """(exp(-abs(z) * abs(z) / 2.0) / 2.5066282746310002
           * ((1.0 / (1.0 + 0.2316419 * abs(z)))
             * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
               * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                 * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
                   * (-1.821255978
                     + (1.0 / (1.0 + 0.2316419 * abs(z)))
                       * 1.330274429))))))"""
      s"""WITH o AS (SELECT o_orderstatus, c_nationkey
           FROM orders JOIN customer ON o_custkey = c_custkey),
         gl AS (SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS f
           FROM o),
         per AS (SELECT c_nationkey, COUNT(*) AS ni,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS fi
           FROM o GROUP BY 1),
         pz AS (SELECT c_nationkey, ni,
             round((CAST(fi AS DOUBLE) / CAST(ni AS DOUBLE)
                 - CAST(f AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(f AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(f AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(ni AS DOUBLE)), 6) + 0.0 AS z
           FROM per CROSS JOIN gl),
         pp AS (SELECT c_nationkey, ni, z,
             round(least($tail * 2.0, 1.0), 9) + 0.0 AS p
           FROM pz),
         ranked AS (SELECT n_name, ni, z, p,
             row_number() OVER (ORDER BY p, n_name) AS rk,
             COUNT(*) OVER () AS m
           FROM pp JOIN nation ON c_nationkey = n_nationkey),
         sat AS (SELECT *,
             p <= CAST(rk AS DOUBLE) * 0.05 / CAST(m AS DOUBLE) AS sat
           FROM ranked),
         km AS (SELECT *,
             MAX(CASE WHEN sat THEN rk ELSE 0 END) OVER () AS kmax
           FROM sat)
         SELECT n_name, ni AS n_orders, z, p,
           CAST(rk AS BIGINT) AS p_rank, rk <= kmax AS rejected
         FROM km ORDER BY p_rank"""
    },
    // power/MDE: exact conditional moments, literal z constants
    "q_power_mde" -> {
      val fold =
        """list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
               (md5('23:' || CAST(o_custkey AS VARCHAR)))[i:i]) - 1
               AS BIGINT)), (a, d) -> a * 16 + d)"""
      s"""WITH spend AS (SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
           FROM orders GROUP BY 1),
         arm AS (SELECT CAST(y AS DECIMAL(19,2)) AS y,
             $fold % 2 AS arm
           FROM spend),
         m AS (SELECT
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             SUM(CASE WHEN arm = 0 THEN y END) AS sa,
             SUM(CASE WHEN arm = 1 THEN y END) AS sb,
             SUM(CASE WHEN arm = 0 THEN y * y END) AS qa,
             SUM(CASE WHEN arm = 1 THEN y * y END) AS qb
           FROM arm),
         c AS (SELECT *, sqrt(greatest(((CAST(qa AS DOUBLE)
               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                 / CAST(n_a AS DOUBLE))
             + (CAST(qb AS DOUBLE)
               - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                 / CAST(n_b AS DOUBLE)))
             / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0),
             0.0)) AS sd_pooled
           FROM m),
         c2 AS (SELECT *, (1.959964 + 0.841621) * sd_pooled
             * sqrt(1.0 / CAST(n_a AS DOUBLE)
               + 1.0 / CAST(n_b AS DOUBLE)) AS mde_abs
           FROM c)
         SELECT n_a, n_b, round(sd_pooled, 6) AS sd_pooled,
           round(mde_abs, 6) AS mde_abs,
           round(mde_abs / (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
             * 100.0, 6) AS mde_pct
         FROM c2"""
    },
    // Kruskal–Wallis: midranks from the 50-value quantity domain,
    // fixed-order 3-group Σ R²/n, BIGINT tie correction
    "q_kruskal_wallis" -> {
      val h =
        """(12.0 / (CAST(n_total AS DOUBLE)
             * (CAST(n_total AS DOUBLE) + 1.0)) * rr
           - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))"""
      s"""WITH li AS (SELECT CAST(l_quantity AS INT) AS qty,
             l_returnflag
           FROM lineitem),
         dom AS (SELECT qty, COUNT(*) AS t FROM li GROUP BY 1),
         cum AS (SELECT qty, t,
             COALESCE(SUM(t) OVER (ORDER BY qty
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
           FROM dom),
         mr AS (SELECT qty,
             CAST(CAST(cb AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0) / 2.0
               AS DECIMAL(12,1)) AS mr
           FROM cum),
         ties AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
           FROM dom),
         ranks AS (SELECT
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS na,
             SUM(CASE WHEN l_returnflag = 'A' THEN mr END) AS ra,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
               AS BIGINT) AS nn,
             SUM(CASE WHEN l_returnflag = 'N' THEN mr END) AS rn,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS nr,
             SUM(CASE WHEN l_returnflag = 'R' THEN mr END) AS rr
           FROM li JOIN mr USING (qty)),
         f AS (SELECT 3 AS n_groups, n AS n_total,
             (CAST(ra AS DOUBLE) * CAST(ra AS DOUBLE)
                 / CAST(na AS DOUBLE)
               + CAST(rn AS DOUBLE) * CAST(rn AS DOUBLE)
                 / CAST(nn AS DOUBLE)
               + CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE)
                 / CAST(nr AS DOUBLE)) AS rr,
             tsum AS ts
           FROM ranks CROSS JOIN ties)
         SELECT CAST(n_groups AS BIGINT) AS n_groups, n_total,
           round($h, 6) AS h,
           round($h / (1.0 - CAST(ts AS DOUBLE)
             / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
               * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))),
             6) AS h_tied
         FROM f"""
    },
    // McNemar: discordant cells of the kappa rater pair, continuity
    // corrected
    "q_mcnemar" ->
      """WITH d AS (SELECT n_chars,
             CAST(length(text)
               - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
           FROM documents),
         thr AS (SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
               AS avg_chars,
             CAST(SUM(n_spaces) AS DOUBLE) / COUNT(*) AS avg_spaces
           FROM d),
         c AS (SELECT
             CAST(n_chars AS DOUBLE) >= avg_chars AS a_hi,
             CAST(n_spaces AS DOUBLE) >= avg_spaces AS b_hi
           FROM d CROSS JOIN thr),
         ag AS (SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN a_hi AND NOT b_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN NOT a_hi AND b_hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n01
           FROM c)
         SELECT n, n10, n01,
           floor((abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)
             * (abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)
             / (CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE)) * 1e6 + 0.5)
             / 1e6 AS mcnemar
         FROM ag""",
    // Kendall tau-b: integer concordance counts over the month grid
    "q_kendall_tau" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x,
             COUNT(*) AS y
           FROM orders GROUP BY 1),
         pairs AS (SELECT
             CAST(sign(a.x - b.x) AS INT) AS sx,
             CAST(sign(a.y - b.y) AS INT) AS sy
           FROM m a JOIN m b ON a.mon < b.mon),
         ag AS (SELECT COUNT(*) AS n0,
             CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS nd,
             CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tx,
             CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ty
           FROM pairs)
         SELECT n0 AS n_pairs, nc, nd,
           round((CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
             / sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE))
               * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE))), 6)
             AS tau_b
         FROM ag""",
    // Theil T + between/within decomposition, round-ln-at-9 contract
    "q_theil_index" -> {
      val mu = "(CAST(st AS DOUBLE) / CAST(n AS DOUBLE))"
      val muj = "(CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE))"
      s"""WITH spend AS (SELECT o_custkey AS c_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
           FROM orders GROUP BY 1),
         sp AS (SELECT x, c_nationkey
           FROM spend JOIN customer USING (c_custkey)),
         nat AS (SELECT c_nationkey, COUNT(*) AS nj, SUM(x) AS sj
           FROM sp GROUP BY 1),
         tot AS (SELECT CAST(SUM(nj) AS BIGINT) AS n, SUM(sj) AS st
           FROM nat),
         terms AS (SELECT c_nationkey, nj, sj, n, st,
             CAST(round(CAST(x AS DOUBLE) / $mu
               * ln(CAST(x AS DOUBLE) / $mu), 9) + 0.0
               AS DECIMAL(18,9)) AS tg,
             CAST(round(CAST(x AS DOUBLE) / $muj
               * ln(CAST(x AS DOUBLE) / $muj), 9) + 0.0
               AS DECIMAL(18,9)) AS tw
           FROM sp JOIN nat USING (c_nationkey) CROSS JOIN tot),
         within AS (SELECT c_nationkey, MAX(nj) AS nj, MAX(sj) AS sj,
             MAX(n) AS n, MAX(st) AS st,
             SUM(tg) AS stg, SUM(tw) AS stw
           FROM terms GROUP BY 1),
         ag AS (SELECT MAX(n) AS n_customers, SUM(stg) AS g,
             SUM(CAST(round(CAST(sj AS DOUBLE) / CAST(st AS DOUBLE)
               * CAST(stw AS DOUBLE) / CAST(nj AS DOUBLE), 9) + 0.0
               AS DECIMAL(18,9))) AS w,
             SUM(CAST(round(CAST(nj AS DOUBLE) / CAST(n AS DOUBLE)
               * $muj / $mu * ln($muj / $mu), 9) + 0.0
               AS DECIMAL(18,9))) AS b,
             MAX(n) AS nn
           FROM within)
         SELECT n_customers,
           round(CAST(g AS DOUBLE) / CAST(nn AS DOUBLE), 6)
             AS theil_total,
           round(CAST(b AS DOUBLE), 6) AS theil_between,
           round(CAST(w AS DOUBLE), 6) AS theil_within
         FROM ag"""
    },
    // pairwise JSD over shared vocab, round-ln-at-12 contract
    "q_jsd" ->
      """WITH words AS (SELECT lang, u.w AS w FROM documents,
             unnest(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9_]+'), x -> x <> '')) u(w)),
         cw AS (SELECT w, COUNT(*) AS c FROM words GROUP BY 1),
         cl AS (SELECT lang, w, COUNT(*) AS clw FROM words
           GROUP BY 1, 2),
         nl AS (SELECT lang, COUNT(*) AS ntok FROM words GROUP BY 1),
         tot AS (SELECT COUNT(*) AS v FROM cw),
         pairs AS (SELECT a.lang AS lang_a, a.ntok AS na,
             b.lang AS lang_b, b.ntok AS nb
           FROM nl a JOIN nl b ON a.lang < b.lang),
         grid AS (SELECT lang_a, lang_b,
             CAST(coalesce(ca.clw, 0) + 1 AS DOUBLE)
               / CAST(na + v AS DOUBLE) AS p,
             CAST(coalesce(cb.clw, 0) + 1 AS DOUBLE)
               / CAST(nb + v AS DOUBLE) AS q
           FROM cw CROSS JOIN pairs CROSS JOIN tot
             LEFT JOIN cl ca ON ca.lang = pairs.lang_a
               AND ca.w = cw.w
             LEFT JOIN cl cb ON cb.lang = pairs.lang_b
               AND cb.w = cw.w),
         terms AS (SELECT lang_a, lang_b,
             CAST(round(0.5 * p * ln(2.0 * p / (p + q))
               + 0.5 * q * ln(2.0 * q / (p + q)), 12)
               AS DECIMAL(28,12)) AS term
           FROM grid),
         ag AS (SELECT lang_a, lang_b,
             round(CAST(SUM(term) AS DOUBLE), 6) AS jsd
           FROM terms GROUP BY 1, 2)
         SELECT lang_a, lang_b, jsd,
           round(jsd / 0.6931471805599453, 6) AS jsd_norm
         FROM ag ORDER BY lang_a, lang_b""",
    // Burrows' delta on the 30-word / 20-source grid, frequencies
    // quantized to 1e-9 so the panel moments are integer-exact
    "q_burrows_delta" ->
      """WITH words AS (SELECT source, u.w AS w FROM documents,
             unnest(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9_]+'), x -> x <> '')) u(w)),
         top AS (SELECT w, COUNT(*) AS c FROM words GROUP BY 1
           ORDER BY c DESC, w LIMIT 30),
         ns AS (SELECT source, COUNT(*) AS ntok FROM words GROUP BY 1),
         fr AS (SELECT source, w,
             CAST(COUNT(*) AS DOUBLE) / CAST(MIN(ntok) AS DOUBLE) AS f
           FROM words JOIN top USING (w) JOIN ns USING (source)
           GROUP BY source, w, ntok),
         grid AS (SELECT top.w AS w, ns.source AS source,
             coalesce(fr.f, 0.0) AS f
           FROM top CROSS JOIN ns
             LEFT JOIN fr ON fr.w = top.w AND fr.source = ns.source),
         wstat AS (SELECT w, COUNT(*) AS k,
             CAST(SUM(CAST(round(f * 1e9, 0) AS DECIMAL(18,0)))
               AS DECIMAL(38,0)) AS sf,
             CAST(SUM(CAST(round(f * 1e9, 0) AS DECIMAL(18,0))
               * CAST(round(f * 1e9, 0) AS DECIMAL(18,0)))
               AS DECIMAL(38,0)) AS sf2
           FROM grid GROUP BY 1),
         z AS (SELECT source, grid.w AS w,
             round((round(f * 1e9, 0)
               - CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
               / sqrt(greatest(CAST(sf2 AS DOUBLE) / CAST(k AS DOUBLE)
                 - (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
                   * (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE)), 1e-6)),
               6) + 0.0 AS z
           FROM grid JOIN wstat ON grid.w = wstat.w),
         d AS (SELECT a.source AS src_a, b.source AS src_b,
             CAST(round(abs(a.z - b.z), 6) AS DECIMAL(18,6)) AS d
           FROM z a JOIN z b ON a.w = b.w AND a.source < b.source)
         SELECT src_a, src_b,
           round(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS delta
         FROM d GROUP BY 1, 2
         ORDER BY delta, src_a, src_b LIMIT 15""",
    // CCF at lags -7..7, exact DECIMAL cross-products, full-series
    // normalization
    "q_xcorr" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS rev,
             COUNT(*) AS cnt
           FROM orders GROUP BY 1),
         mom AS (SELECT COUNT(*) AS n, SUM(rev) AS sx,
             CAST(SUM(cnt) AS BIGINT) AS sy
           FROM daily),
         d AS (SELECT row_number() OVER (ORDER BY day) AS rn,
             CAST(round(CAST(rev AS DOUBLE)
               - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
               AS DECIMAL(18,6)) AS dx,
             CAST(round(CAST(cnt AS DOUBLE)
               - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
               AS DECIMAL(18,6)) AS dy
           FROM daily CROSS JOIN mom),
         den AS (SELECT SUM(CAST(dx AS DECIMAL(19,6))
               * CAST(dx AS DECIMAL(19,6))) AS dxx,
             SUM(CAST(dy AS DECIMAL(19,6))
               * CAST(dy AS DECIMAL(19,6))) AS dyy
           FROM d),
         lags AS (SELECT CAST(range AS BIGINT) AS lag_k
           FROM range(-7, 8)),
         num AS (SELECT lag_k, COUNT(*) AS n_pairs,
             SUM(CAST(d1.dx AS DECIMAL(19,6))
               * CAST(d2.dy AS DECIMAL(19,6))) AS num
           FROM d d1 CROSS JOIN lags
           JOIN d d2 ON d2.rn = d1.rn + lag_k
           GROUP BY 1)
         SELECT lag_k, n_pairs,
           round(CAST(num AS DOUBLE)
             / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6)
             AS r
         FROM num CROSS JOIN den ORDER BY lag_k""",
    // isotonic fit via the Barlow minimax: prefix-sum interval means,
    // suffix-min window, keyed max
    "q_isotonic" ->
      """WITH m0 AS (SELECT CAST(date_trunc('month', o_orderdate)
               AS DATE) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp,
             COUNT(*) AS cnt
           FROM orders GROUP BY 1),
         m AS (SELECT mon,
             CAST(round(CAST(sp AS DOUBLE) / CAST(cnt AS DOUBLE), 6)
               + 0.0 AS DECIMAL(18,6)) AS y,
             row_number() OVER (ORDER BY mon) AS i
           FROM m0),
         pre AS (SELECT mon, y, i,
             SUM(y) OVER (ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
           FROM m),
         a AS (SELECT s.i AS si, t.i AS ti,
             CAST(floor(CAST(t.pp - (s.pp - s.y) AS DOUBLE)
               / CAST(t.i - s.i + 1 AS DOUBLE) * 1e6 + 0.5) / 1e6 + 0.0
               AS DECIMAL(18,6)) AS avg_st
           FROM pre s JOIN pre t ON t.i >= s.i),
         inner_min AS (SELECT si, ti,
             MIN(avg_st) OVER (PARTITION BY si ORDER BY ti
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS msuf
           FROM a),
         fit AS (SELECT ti AS i, MAX(msuf) AS fit0
           FROM inner_min GROUP BY 1)
         SELECT mon, CAST(y AS DOUBLE) AS y,
           CAST(fit0 AS DOUBLE) AS fit
         FROM m JOIN fit USING (i) ORDER BY mon""",
    // 256-bucket sketch readout vs percentile_disc truth
    "q_quantile_sketch" ->
      """WITH o AS (SELECT o_totalprice AS x FROM orders),
         mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS n
           FROM o),
         hist AS (SELECT LEAST(CAST(floor((x - mn) / (mx - mn)
               * 256.0) AS INT), 255) AS bucket, COUNT(*) AS cnt
           FROM o CROSS JOIN mm GROUP BY 1),
         hc AS (SELECT bucket, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
           FROM hist),
         qs AS (SELECT unnest([CAST(0.5 AS DOUBLE),
             CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q),
         tj AS (SELECT q, q * CAST(n AS DOUBLE) AS target,
             bucket, cnt, cb, mn, mx
           FROM qs CROSS JOIN mm
           JOIN hc ON CAST(cb AS DOUBLE) + CAST(cnt AS DOUBLE)
             >= q * CAST(n AS DOUBLE)),
         est AS (SELECT q, mn + (CAST(bucket AS DOUBLE)
               + (target - CAST(cb AS DOUBLE)) / CAST(cnt AS DOUBLE))
               * (mx - mn) / 256.0 AS est,
             row_number() OVER (PARTITION BY q ORDER BY bucket) AS rn
           FROM tj),
         e1 AS (SELECT q, est FROM est WHERE rn = 1),
         ex AS (SELECT
             percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS e50,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY x) AS e90,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY x) AS e99
           FROM o),
         e2 AS (SELECT q,
             CASE WHEN q = 0.5 THEN e50 WHEN q = 0.9 THEN e90
               ELSE e99 END AS exact, est
           FROM e1 CROSS JOIN ex)
         SELECT q, exact, round(est, 4) AS est,
           round(abs(est - exact) / exact, 6) AS rel_err
         FROM e2 ORDER BY q""",
    // log-rank: integer at-risk suffix counts, 9-dp O-E and V terms
    "q_log_rank" -> {
      val fold =
        """list_reduce(list_transform(range(1, 9),
             i -> CAST(strpos('0123456789abcdef',
               (md5('29:' || CAST(o_custkey AS VARCHAR)))[i:i]) - 1
               AS BIGINT)), (a, d) -> a * 16 + d)"""
      s"""WITH first AS (SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS fd,
             $fold % 2 AS arm
           FROM orders GROUP BY o_custkey),
         lo AS (SELECT MIN(fd) AS d0 FROM first),
         ev AS (SELECT CAST(datediff('day', d0, fd) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d2
           FROM first CROSS JOIN lo GROUP BY 1),
         tot AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1,
             CAST(SUM(d2) AS BIGINT) AS n2 FROM ev),
         risk AS (SELECT n1, n2, d1, d2,
             n1 - COALESCE(SUM(d1) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS r1,
             n2 - COALESCE(SUM(d2) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS r2
           FROM ev CROSS JOIN tot),
         terms AS (SELECT n1, n2, d1,
             CAST(round(CAST(d1 AS DOUBLE)
               - CAST(d1 + d2 AS DOUBLE) * CAST(r1 AS DOUBLE)
                 / CAST(r1 + r2 AS DOUBLE), 9) + 0.0
               AS DECIMAL(18,9)) AS oe,
             CAST(round(CASE WHEN r1 + r2 > 1 THEN
                 CAST(d1 + d2 AS DOUBLE)
                 * (CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
                 * (CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
                 * (CAST(r1 + r2 - d1 - d2 AS DOUBLE)
                   / CAST(r1 + r2 - 1 AS DOUBLE))
               ELSE 0.0 END, 9) + 0.0 AS DECIMAL(18,9)) AS v
           FROM risk),
         ag AS (SELECT MAX(n1) AS n_a, MAX(n2) AS n_b,
             CAST(SUM(d1) AS BIGINT) AS o_a, SUM(oe) AS soe,
             SUM(v) AS sv
           FROM terms)
         SELECT n_a, n_b, o_a,
           round(CAST(o_a AS DOUBLE) - CAST(soe AS DOUBLE), 6) AS e_a,
           round(CAST(soe AS DOUBLE) * CAST(soe AS DOUBLE)
             / CAST(sv AS DOUBLE), 6) AS chi2_logrank
         FROM ag"""
    },
  )
}
