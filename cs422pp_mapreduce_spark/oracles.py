"""DuckDB oracle SQL for every verifiable query (SURVEY.md §2.3).

One string per ``queries()`` key, runnable by DuckDB 1.0.0 against
views named region/nation/customer/supplier/part/orders/lineitem/
events/documents/embeddings. Column names and types must match the
Spark output exactly (driver hashes values under name-sorted columns).

Conventions shared with the Spark side:
- exact arithmetic (decimal sums and averages, fixed-point longs,
  co-moments, money products) is owned by functions/numeric.py: each
  Spark helper there has its SQL-text twin beside it, and the strings
  here call those twins rather than spelling a decimal precision;
- rank/length/year/... cast to BIGINT to match Spark's long;
- top-k always carries a unique tiebreaker in ORDER BY.
"""

from __future__ import annotations

from .functions.numeric import (
    CHARGE_SQL,
    DISC_PRICE_SQL,
    DISC_REV_SQL,
    comoment_sql,
    exact_avg_sql,
    exact_sum_over_sql,
    exact_sum_sql,
    exact_sum_wide_sql,
    fine_sum_sql,
    fixed_long_sql,
    money_dec_sql,
    quantized_sql,
    rate_dec_sql,
    rate_long_sql,
)


def _isum(expr: str) -> str:
    """Integer SUM that survives the driver's dtype-sensitive hash.

    DuckDB's SUM(integer) returns HUGEINT, which pandas materializes as
    float64 (785 → 785.0); Spark's sum(long) stays int64. The driver
    hashes serialized values, so the two diverge (r03 funnel red row).
    Every integral SUM that reaches a final SELECT must route through
    this (tools/sweep_dtypes.py lints the convention).
    """
    return f"CAST(SUM({expr}) AS BIGINT)"


def _price_when(cond: str) -> str:
    """Discounted price where ``cond`` holds, else a rate-precision 0
    (the CASE stays decimal(18,4)) — the tpch_q14/q8 conditional sum."""
    return f"CASE WHEN {cond} THEN {DISC_PRICE_SQL} ELSE {rate_dec_sql('0')} END"


# Shared with operators/corpus.q_source_cap — single source of truth so
# the Spark cap and the oracle's QUALIFY bound can never diverge.
SOURCE_CAP = 15


# Exact near-dup connected-components CTE chain (shared by
# dedup_clusters and dedup_keep): word-3-gram Jaccard ≥ 0.5 pairs →
# symmetric edges → recursive reachability walk. Callers prepend
# `WITH RECURSIVE ` and aggregate `walk` themselves.
_NEARDUP_CC_CTE = """toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), sizes AS (
            SELECT doc_id, len(shingles) AS n_sh FROM sh
        ), pairs AS (
            SELECT doc_a, doc_b
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), walk AS (
            SELECT src AS node, src AS comp FROM edges
            UNION
            SELECT e.dst AS node, w.comp
            FROM walk w JOIN edges e ON e.src = w.node
        )"""

# Bit-exact replica of the MinHash+LSH pipeline (dedup.py
# minhash_signatures / lsh_band_buckets / q_dedup_minhash): md5-prefix
# 60-bit base hash mod P=2^31-1, permutation i = (A_i·h + B_i) mod P
# with A_i=(2654435761·(i+1)) mod P, B_i=(40503·(i+1)) mod P, 32
# hashes, 8 bands of 4 (bucket = the band's mh values in i order),
# candidates = same-(band,bucket) pairs, exact-Jaccard verify. Every
# step is exact int64 arithmetic, so candidates — and therefore the
# verified pair set — match Spark's bit-for-bit.
# Bit-exact replica of the banded sign-LSH signature kernel
# (similarity.py hyperplanes / quantize_vec / sign_band_buckets):
# integer hyperplanes p[j][k] = (md5("j_k")-prefix mod 33) − 16,
# vectors quantized floor(v·2^20 + 0.5) → every plane dot is exact
# int64 arithmetic, so NumPy's blocked matmul and this per-plane SUM
# produce identical signs. Expects a CTE named `vecs(vec_id, v)` with
# v DOUBLE[] of length 64 in scope; yields `sbands(vec_id, band,
# bucket)`.
_SIGNLSH_BANDS_CTE = """qelem AS (
            SELECT vec_id, k,
                   CAST(floor(v[k] * 1048576.0 + 0.5) AS BIGINT) AS qv
            FROM vecs, UNNEST(generate_series(1, 64)) AS g(k)
        ), planes AS (
            SELECT j, k,
                   ((('0x' || substr(md5(j::VARCHAR || '_' ||
                                         (k - 1)::VARCHAR), 1, 15))::BIGINT)
                    % 33) - 16 AS p
            FROM generate_series(0, 63) t(j),
                 generate_series(1, 64) u(k)
        ), dots AS (
            SELECT vec_id, j, SUM(qv * p) AS d
            FROM qelem JOIN planes USING (k)
            GROUP BY vec_id, j
        ), sbands AS (
            SELECT vec_id, j // 8 AS band,
                   SUM(CASE WHEN d > 0
                            THEN CAST(1 AS BIGINT) << (j % 8)
                            ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id, j // 8
        )"""

_MINHASH_PAIRS_CTE = """toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), hs AS (
            SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT
                       % 2147483647 AS hb
            FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
        ), mh AS (
            SELECT doc_id, i,
                   MIN((((2654435761 * (i + 1)) % 2147483647) * hb
                        + (40503 * (i + 1)) % 2147483647)
                       % 2147483647) AS mhv
            FROM hs, UNNEST(generate_series(0, 31)) AS u(i)
            GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 4 AS band,
                   string_agg(mhv::VARCHAR, ',' ORDER BY i) AS bucket
            FROM mh GROUP BY doc_id, i // 4
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id
        ), mh_pairs AS (
            SELECT doc_a, doc_b,
                   CAST(len(list_intersect(sa.shingles, sb.shingles))
                        AS DOUBLE)
                   / (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles)))
                       AS jaccard
            FROM cand
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b
        )"""

ORACLES: dict[str, str] = {
    # --- wordcount family -------------------------------------------------
    "wordcount": """
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    # --- scans / filters --------------------------------------------------
    "scan_project": """
        SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem
    """,
    "filter_pred": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
               l_extendedprice * (1 - l_discount) AS net_price
        FROM lineitem
        WHERE l_quantity > 30 AND l_returnflag = 'R'
    """,
    # --- aggregation ------------------------------------------------------
    "group_agg": f"""
        SELECT l_returnflag, l_linestatus,
               {exact_sum_sql('l_quantity', 2)} AS sum_qty,
               {exact_sum_sql('l_extendedprice', 2)} AS sum_base_price,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS sum_disc_price,
               {exact_avg_sql('l_quantity', 2)} AS avg_qty,
               {exact_avg_sql('l_extendedprice', 2)} AS avg_price,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "count_distinct": """
        SELECT l_suppkey,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_suppkey
    """,
    "rollup_agg": f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               {exact_sum_sql('l_quantity', 2)} AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube_agg": f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               {exact_sum_sql('l_extendedprice', 2)} AS sum_price
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "case_expr": f"""
        SELECT CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'medium'
                    ELSE 'large' END AS qty_bucket,
               COUNT(*) AS n_rows,
               {exact_sum_sql('l_extendedprice', 2)} AS sum_price
        FROM lineitem GROUP BY 1
    """,
    # --- joins ------------------------------------------------------------
    "hash_join": """
        SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "broadcast_join": """
        SELECT s_suppkey, s_name, n_name, r_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    """,
    "multi_join_agg": f"""
        SELECT n_name,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "semi_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    "anti_join": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "outer_join": """
        SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    # --- set operations ---------------------------------------------------
    "union_distinct": """
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "except_op": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "intersect_op": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    # --- sort / top-k -----------------------------------------------------
    "topk": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    # --- window functions -------------------------------------------------
    "window_rank": """
        SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   RANK() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders)
        WHERE rnk <= 3
    """,
    "window_running": f"""
        SELECT o_custkey, o_orderkey, o_orderdate,
               {exact_sum_over_sql('o_totalprice', 'w', 2)} AS running_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "window_lag": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               LAG(o_totalprice) OVER w AS prev_price,
               o_totalprice - LAG(o_totalprice) OVER w AS price_delta
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    # --- scalar functions -------------------------------------------------
    "string_funcs": """
        SELECT p_partkey,
               UPPER(p_name) AS name_upper,
               LENGTH(p_name) AS name_len,
               SUBSTRING(p_type, 1, 5) AS type_prefix,
               p_brand || '#' || p_type AS brand_type
        FROM part
    """,
    "date_funcs": f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
               CAST(month(o_orderdate) AS BIGINT) AS omonth,
               COUNT(*) AS n_orders,
               {exact_sum_sql('o_totalprice', 2)} AS month_revenue
        FROM orders GROUP BY 1, 2
    """,
    "math_funcs": """
        SELECT l_orderkey, l_linenumber,
               sqrt(l_quantity) AS qty_sqrt,
               round(ln(l_extendedprice), 6) AS price_ln,
               power(l_discount, 2) AS disc_sq,
               CAST(ceil(l_tax * 100) AS BIGINT) AS tax_cents_ceil,
               CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div7_floor,
               floor(l_extendedprice / l_quantity * 100) / 100.0
                   AS unit_price_t2
        FROM lineitem
    """,
    "json_funcs": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS max_k
        FROM events GROUP BY event_type
    """,
    "stats_agg": f"""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   {exact_sum_sql('l_quantity', 2)} AS s1,
                   {exact_sum_wide_sql('l_quantity * l_quantity', 4)} AS s2
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               s1 / n AS mean_qty,
               (s2 - s1 * s1 / n) / (n - 1.0) AS var_qty,
               sqrt((s2 - s1 * s1 / n) / (n - 1.0)) AS stddev_qty
        FROM m
    """,
    "percentile_agg": """
        SELECT l_linestatus,
               round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
               round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_linestatus
    """,
    "window_misc": """
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER w AS rn,
               DENSE_RANK() OVER w AS drk,
               NTILE(4) OVER w AS quartile,
               FIRST_VALUE(o_totalprice) OVER wf AS first_price,
               LAST_VALUE(o_totalprice) OVER wf AS latest_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "union_all": """
        SELECT c_nationkey AS nationkey, 'customer' AS src FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supplier' AS src FROM supplier
    """,
    "null_handling": """
        SELECT c_custkey,
               coalesce(MAX(o_totalprice), 0.0) AS best_big_order,
               COUNT(o_orderkey) AS n_big_orders,
               nullif(COUNT(o_orderkey), 0) AS n_or_null
        FROM customer
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
               ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    # + 0.0 normalizes signed zero (engines disagree on round(-2e-5, 4):
    # 0.0 vs -0.0; equal numerically, different stringified/hashed).
    "array_funcs": """
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_val,
               round(list_max(CAST(embedding AS DOUBLE[])), 4) + 0.0 AS max_val,
               round(list_min(CAST(embedding AS DOUBLE[])), 4) + 0.0 AS min_val,
               round(list_aggregate(CAST(embedding[1:8] AS DOUBLE[]),
                                    'sum'), 4) + 0.0 AS head8_sum
        FROM embeddings
    """,
    "cross_join": """
        SELECT a.r_regionkey AS ra, a.r_name AS name_a,
               b.r_regionkey AS rb, b.r_name AS name_b
        FROM region a CROSS JOIN region b
        WHERE a.r_regionkey < b.r_regionkey
    """,
    "having": f"""
        SELECT l_suppkey, COUNT(*) AS n_items,
               {exact_sum_sql('l_quantity', 2)} AS sum_qty
        FROM lineitem GROUP BY l_suppkey
        HAVING COUNT(*) > 550
    """,
    "collect_agg": """
        SELECT n_name,
               string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
               COUNT(*) AS n_suppliers
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "string_funcs2": """
        SELECT p_partkey,
               regexp_extract(p_name, '([0-9]+)', 1) AS name_digits,
               lpad(p_brand, 12, '_') AS brand_padded,
               replace(p_type, ' ', '-') AS type_dashed,
               split_part(p_type, ' ', 1) AS type_first_word,
               reverse(p_brand) AS brand_rev,
               CAST(instr(p_name, 'a') AS BIGINT) AS first_a_pos
        FROM part
    """,
    "date_funcs2": """
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS BIGINT) AS oquarter,
               CAST(day(o_orderdate) AS BIGINT) AS oday,
               CAST(datediff('day', DATE '1995-01-01', o_orderdate)
                    AS BIGINT) AS days_since_epoch_start,
               date_trunc('month', o_orderdate) AS omonth_start,
               o_orderdate + INTERVAL 90 DAY AS due_date
        FROM orders
    """,
    # --- TPC-H shapes -------------------------------------------------------
    "tpch_q3": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1999-03-15'
          AND l_shipdate  > DATE '1999-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "tpch_q5": f"""
        SELECT n_name,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= DATE '1998-01-01'
          AND o_orderdate <  DATE '2000-01-01'
        GROUP BY n_name
    """,
    # Q2/Q9/Q20 adapted: lineitem unit price / shipped quantity stand
    # in for the missing partsupp columns.
    "tpch_q2": """
        WITH rs AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_regionkey = 2
        ), cost AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem JOIN rs ON l_suppkey = s_suppkey
            GROUP BY 1, 2
        ), best AS (
            SELECT l_partkey, MIN(unit_cost) AS best_cost
            FROM cost GROUP BY 1
        )
        SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
        FROM cost
        JOIN best USING (l_partkey)
        JOIN part ON l_partkey = p_partkey
        JOIN rs ON cost.l_suppkey = rs.s_suppkey
        WHERE unit_cost = best_cost AND p_size = 9
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    "tpch_q9": f"""
        SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS profit
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%gear%'
        GROUP BY n_name, o_year
    """,
    "tpch_q20": f"""
        WITH ship AS (
            SELECT l_suppkey, {exact_sum_sql('l_quantity', 2)} AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
            GROUP BY l_suppkey
        )
        SELECT s_name, qty
        FROM ship JOIN supplier ON l_suppkey = s_suppkey
        WHERE qty > (SELECT {exact_sum_wide_sql('qty', 2)} / COUNT(*)
                     FROM ship)
    """,
    # Q11/Q16/Q21 adapted: lineitem stands in for partsupp (the
    # fixtures lack it); "late" is shipdate-based as in Q4/Q12.
    "tpch_q11": f"""
        WITH nat AS (
            SELECT s_suppkey FROM supplier WHERE s_nationkey = 1
        ), pv AS (
            SELECT l_partkey,
                   {exact_sum_sql(DISC_PRICE_SQL, 4)} AS part_value
            FROM lineitem JOIN nat ON l_suppkey = s_suppkey
            GROUP BY l_partkey
        )
        SELECT l_partkey, part_value FROM pv
        WHERE part_value > 2.0 *
              (SELECT {exact_sum_wide_sql('part_value', 4)} / COUNT(*)
               FROM pv)
    """,
    "tpch_q16": """
        SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (1, 5, 9, 13)
        GROUP BY p_type, p_size
    """,
    "tpch_q21": """
        WITH late AS (
            SELECT DISTINCT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        ), os AS (
            SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp
            FROM lineitem GROUP BY l_orderkey
        ), nl AS (
            SELECT l_orderkey, COUNT(*) AS n_late FROM late GROUP BY l_orderkey
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM late
        JOIN os USING (l_orderkey)
        JOIN nl USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE n_supp >= 2 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20
    """,
    # Q4/Q12 adapted to the fixture schema: "late" is defined on
    # l_shipdate vs o_orderdate (no commit/receipt dates), and Q12
    # groups by l_linestatus (no l_shipmode).
    "tpch_q4": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= '1999-01-01' AND o_orderdate < '1999-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "tpch_q12": f"""
        SELECT l_linestatus,
               {_isum("CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                      " THEN 1 ELSE 0 END")} AS high_line_count,
               {_isum("CASE WHEN o_orderpriority NOT IN"
                      " ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END")}
                   AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= '1999-01-01' AND l_shipdate < '2000-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus
    """,
    "tpch_q6": f"""
        SELECT {exact_sum_sql(DISC_REV_SQL, 4)} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= DATE '1999-01-01'
          AND l_shipdate <  DATE '2000-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q10": f"""
        SELECT c_custkey, c_name, c_acctbal, n_name,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1999-10-01'
          AND o_orderdate <  DATE '2000-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    # --- SQL surface --------------------------------------------------------
    "grouping_sets": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                    AS BIGINT) AS gid,
               COUNT(*) AS n_rows,
               {exact_sum_sql('l_quantity', 2)} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
    """,
    "sql_subquery": f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (
                SELECT {exact_sum_sql('o_totalprice', 2)} / COUNT(*)
                FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
    """,
    "sql_cte_topnation": f"""
        WITH rev AS (
            SELECT n_name,
                   {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, revenue,
               revenue / {exact_sum_over_sql('revenue', '()', 4)}
                   AS revenue_share
        FROM rev
    """,
    "event_rollup": f"""
        SELECT date_trunc('hour', ts) AS bucket_hour,
               date_trunc('day', ts)  AS bucket_day,
               event_type,
               COUNT(*) AS n_events,
               {exact_sum_sql('value', 2)} AS sum_value
        FROM events
        GROUP BY GROUPING SETS
            ((date_trunc('hour', ts), event_type),
             (date_trunc('day', ts), event_type))
    """,
    "pivot_status": """
        SELECT o_orderpriority,
               COUNT(*) FILTER (o_orderstatus = 'F') AS n_F,
               COUNT(*) FILTER (o_orderstatus = 'O') AS n_O,
               COUNT(*) FILTER (o_orderstatus = 'P') AS n_P
        FROM orders GROUP BY o_orderpriority
    """,
    # --- time-series joins --------------------------------------------------
    # Tie among equal o_orderdate is pinned explicitly (max o_orderkey,
    # matching the Spark side) instead of relying on ASOF JOIN's
    # unspecified tie choice, which could flip on a DuckDB upgrade.
    "asof_join": """
        WITH ranked AS (
            SELECT e.event_id, e.user_id, e.ts,
                   o.o_orderkey, o.o_orderdate,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC NULLS LAST,
                                o.o_orderkey DESC NULLS LAST) AS rn
            FROM events e
            LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        )
        SELECT event_id, user_id, ts,
               o_orderkey AS last_order_key,
               o_orderdate AS last_order_date
        FROM ranked WHERE rn = 1
    """,
    "range_join": """
        SELECT a.event_id AS anchor_id,
               COUNT(*) AS n_followups,
               MIN(b.event_id) AS first_other_id,
               MAX(b.event_id) AS last_other_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts
         AND b.ts < a.ts + INTERVAL 30 MINUTE
         AND b.event_id <> a.event_id
        GROUP BY a.event_id
    """,
    # --- event-time windows ----------------------------------------------
    "event_tumbling": f"""
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               COUNT(*) AS n_events,
               {exact_sum_sql('value', 2)} AS sum_value
        FROM events GROUP BY 1, 2
    """,
    # Partition-pruning contract: the Spark side scans a hive-layout
    # date-partitioned copy (PartitionFilters pinned in tests); the
    # oracle computes the identical week from raw ts, so the pruned
    # scan is verified end-to-end against the unpartitioned truth.
    "events_partitioned": f"""
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date,
               event_type, COUNT(*) AS n_events,
               {exact_sum_sql('value', 2)} AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
                                   AND DATE '2024-01-14'
        GROUP BY 1, 2
    """,
    # Weekly retention cohorts. DuckDB's date_trunc('week') yields DATE
    # (unlike 'hour' → TIMESTAMP), so both week columns re-cast to
    # TIMESTAMP to match Spark.
    "retention_cohorts": """
        WITH uw AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
            FROM events
        ), first AS (
            SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1
        ), act AS (
            SELECT cohort_week,
                   CAST((epoch(week) - epoch(cohort_week)) / 604800 AS BIGINT)
                       AS week_offset,
                   COUNT(DISTINCT uw.user_id) AS n_active
            FROM uw JOIN first USING (user_id)
            GROUP BY 1, 2
        ), sz AS (
            SELECT cohort_week, COUNT(*) AS cohort_size FROM first GROUP BY 1
        )
        SELECT cohort_week, week_offset, n_active, cohort_size,
               CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)
                   AS retention
        FROM act JOIN sz USING (cohort_week)
    """,
    "event_sliding": f"""
        WITH assigned AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start, value
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
                   value
            FROM events
        )
        SELECT win_start, COUNT(*) AS n_events,
               {exact_sum_sql('value', 2)} AS sum_value
        FROM assigned GROUP BY 1
    """,
    # Gaps-and-islands sessionization, 30-min inactivity gap, microsecond
    # precision (same arithmetic as the Spark side: unix_micros / epoch_us).
    # Strict >: matches Spark session_window's INCLUSIVE merge boundary —
    # an exactly-1800s gap merges; only a strictly-greater gap splits
    # (verified empirically; pinned by test_session_gap_boundary).
    "event_session": f"""
        WITH l AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM l
        )
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events, {exact_sum_sql('value', 2)} AS sum_value
        FROM s GROUP BY user_id, sess_id
    """,
    # --- text analytics ---------------------------------------------------
    "text_stats": """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))) AS BIGINT)
                   AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        x -> x <> ''))) AS DOUBLE)
                   / COUNT(*) AS avg_tokens_per_doc
        FROM documents GROUP BY lang
    """,
    "lang_id": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   len(list_filter(toks,
                       x -> x IN ('the','a','of','and','is'))) AS en,
                   len(list_filter(toks,
                       x -> x IN ('le','la','et','les','des'))) AS fr,
                   len(list_filter(toks,
                       x -> x IN ('der','die','und','das','ist'))) AS de,
                   len(list_filter(toks,
                       x -> x IN ('el','los','y','las','una'))) AS es
            FROM t
        )
        SELECT doc_id,
               CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                    WHEN en = greatest(en, fr, de, es) THEN 'en'
                    WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                    WHEN de = greatest(en, fr, de, es) THEN 'de'
                    ELSE 'es' END AS lang_pred
        FROM s
    """,
    "quality_score": """
        WITH base AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                        AS BIGINT) AS n_alpha,
                   CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
                                              'g')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','of','and','is'))) AS BIGINT)
                       AS stop_hits
            FROM documents
        ), r AS (
            SELECT doc_id, n_tokens, n_chars,
                   CASE WHEN n_tokens > 0
                        THEN CAST(n_tokens AS DOUBLE) END AS nt,
                   CASE WHEN n_chars > 0
                        THEN CAST(n_chars AS DOUBLE) END AS nc,
                   n_alpha, n_punct, stop_hits
            FROM base
        )
        SELECT doc_id, n_tokens, n_chars,
               CAST(n_alpha AS DOUBLE) / nt AS avg_token_len,
               CAST(n_punct AS DOUBLE) / nc AS punct_ratio,
               CAST(stop_hits AS DOUBLE) / nt AS stopword_ratio,
               least(nt / 100.0, 1.0) * 0.4
                 + (CAST(stop_hits AS DOUBLE) / nt) * 0.4
                 + (1.0 - CAST(n_punct AS DOUBLE) / nc) * 0.2 AS quality_score
        FROM r
    """,
    "token_count": """
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text),
                                           '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                    AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
    "doc_fingerprint": """
        SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
    """,
    # Membership is a pure function of the key (md5 prefix mod 100) so
    # both engines compute the identical sample.
    "deterministic_sample": """
        SELECT doc_id, lang, source, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                   % 100 AS sample_bucket
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                  % 100 < 10
    """,
    "tfidf": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
            SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
        ), n AS (
            SELECT COUNT(*) AS n_docs FROM documents
        )
        SELECT doc_id, token, tf, df,
               ROUND(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1),
                     6) + 0.0 AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    """,
    "inverted_index": """
        WITH toks AS (
            SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS token
                FROM documents
            )
        )
        SELECT token,
               array_to_string(list_sort(list(doc_id)), ',') AS postings,
               CAST(COUNT(doc_id) AS BIGINT) AS df
        FROM toks GROUP BY token
    """,
    # --- dedup ------------------------------------------------------------
    "dedup_exact": """
        SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text
    """,
    # Incremental-ingest dedup: incoming slice (doc_id % 5 == 0)
    # admitted iff its fingerprint is absent from the standing corpus;
    # min-doc_id keep within the batch.
    "dedup_incremental": """
        WITH fps AS (
            SELECT doc_id, md5(lower(trim(text))) AS fp,
                   substr(text, 1, 60) AS pfx
            FROM documents
        ),
        existing AS (SELECT * FROM fps WHERE doc_id % 5 <> 0),
        incoming AS (SELECT * FROM fps WHERE doc_id % 5 = 0)
        SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
        FROM incoming i
        -- NOT EXISTS, not NOT IN: a NULL key in `existing` would make
        -- NOT IN return zero rows while Spark's left_anti (null-safe
        -- non-match) still admits novel docs
        WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
          AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.pfx = i.pfx)
        GROUP BY fp
    """,
    # Incremental ingest, SUBSTRING tier: the dedup_substring CTE
    # chain with the corpus-count filter replaced by set membership in
    # the STANDING side's distinct shingles (string equality here ≡
    # the Spark side's xxhash64 join, the established dedup_substring
    # convention), scoped to the batch slice, then the same
    # gaps-and-islands runs and a per-doc admission rollup.
    "dedup_incremental_substring": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(i AS BIGINT) AS pos,
                   array_to_string(t[i:i+4], ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        ), flagged AS (
            SELECT doc_id, n_tokens, pos FROM sh
            WHERE doc_id % 5 = 0
              AND shingle IN (SELECT DISTINCT shingle FROM sh
                              WHERE doc_id % 5 <> 0)
        ), runs AS (
            SELECT doc_id, n_tokens, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM flagged
        ), spans AS (
            SELECT doc_id, MIN(n_tokens) AS n_tokens,
                   COUNT(*) AS run_len,
                   MAX(pos) - MIN(pos) + 5 AS span_tokens
            FROM runs GROUP BY doc_id, grp
        )
        SELECT doc_id, n_tokens,
               CAST(SUM(CASE WHEN span_tokens >= 30 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN span_tokens >= 30 THEN run_len
                             ELSE 0 END) AS BIGINT) AS dup_positions,
               MAX(CASE WHEN span_tokens >= 30 THEN span_tokens
                        ELSE 0 END) AS max_span_tokens,
               SUM(CASE WHEN span_tokens >= 30 THEN 1 ELSE 0 END) = 0
                   AS admitted
        FROM spans GROUP BY doc_id, n_tokens
    """,
    # Near-dup decontamination: the dedup_incremental_near band chain
    # with the sides re-split on the eval md5-bucket — train bands
    # probe the (tiny) eval bands, candidates exact-Jaccard verified.
    # SYNC NOTE: same _MINHASH_PAIRS_CTE-prefix restatement as
    # dedup_incremental_near; any minhash-convention change must land
    # in all copies.
    "decontaminate_near": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), hs AS (
            SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT
                       % 2147483647 AS hb
            FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
        ), mh AS (
            SELECT doc_id, i,
                   MIN((((2654435761 * (i + 1)) % 2147483647) * hb
                        + (40503 * (i + 1)) % 2147483647)
                       % 2147483647) AS mhv
            FROM hs, UNNEST(generate_series(0, 31)) AS u(i)
            GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 4 AS band,
                   string_agg(mhv::VARCHAR, ',' ORDER BY i) AS bucket
            FROM mh GROUP BY doc_id, i // 4
        ), ev AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       ::BIGINT % 100 < 2 AS is_eval
            FROM documents
        ), cand AS (
            SELECT DISTINCT p.doc_id AS doc_id, c.doc_id AS eval_doc
            FROM (SELECT b.* FROM bands b JOIN ev ON ev.doc_id = b.doc_id
                  WHERE NOT ev.is_eval) p
            JOIN (SELECT b.* FROM bands b JOIN ev ON ev.doc_id = b.doc_id
                  WHERE ev.is_eval) c
              ON p.band = c.band AND p.bucket = c.bucket
        ), near_n AS (
            SELECT doc_id, COUNT(*) AS n_eval_near
            FROM (
                SELECT cand.doc_id,
                       CAST(len(list_intersect(sp.shingles, sc.shingles))
                            AS DOUBLE)
                       / (len(sp.shingles) + len(sc.shingles)
                          - len(list_intersect(sp.shingles, sc.shingles)))
                           AS jaccard
                FROM cand
                JOIN sh sp ON sp.doc_id = cand.doc_id
                JOIN sh sc ON sc.doc_id = cand.eval_doc
            )
            WHERE jaccard >= 0.5 GROUP BY doc_id
        ), cand_n AS (
            SELECT doc_id, COUNT(*) AS n_eval_candidates
            FROM cand GROUP BY doc_id
        )
        SELECT cn.doc_id,
               cn.n_eval_candidates,
               COALESCE(nn.n_eval_near, 0) AS n_eval_near,
               COALESCE(nn.n_eval_near, 0) > 0 AS contaminated
        FROM cand_n cn
        LEFT JOIN near_n nn ON nn.doc_id = cn.doc_id
    """,
    # Incremental ingest + LSH near-dup tier: exact tiers replayed as
    # in dedup_incremental, then the survivors' MinHash band buckets
    # (same md5-prefix universal-hash chain as dedup_minhash — bands
    # are per-doc, so computing them over all documents and splitting
    # corpus/probe matches the Spark side's filtered builds exactly)
    # probed against the corpus bands, candidates exact-Jaccard
    # verified.
    # SYNC NOTE: the toks→sh→hs→mh→bands chain below re-states the
    # prefix of _MINHASH_PAIRS_CTE because this oracle filters the
    # band table by side mid-chain; any change to the minhash
    # convention (N_MINHASHES, LSH_BANDS, MINHASH_* constants, band
    # key format) must be applied to BOTH copies or this row alone
    # will hash-FAIL.
    "dedup_incremental_near": """
        WITH fps AS (
            SELECT doc_id, md5(lower(trim(text))) AS fp,
                   substr(text, 1, 60) AS pfx
            FROM documents
        ),
        existing AS (SELECT * FROM fps WHERE doc_id % 5 <> 0),
        incoming AS (SELECT * FROM fps WHERE doc_id % 5 = 0),
        surv AS (
            SELECT * FROM incoming i
            WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
              AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.pfx = i.pfx)
        ),
        reps AS (
            SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
            FROM surv GROUP BY fp
        ),
        toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), hs AS (
            SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT
                       % 2147483647 AS hb
            FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
        ), mh AS (
            SELECT doc_id, i,
                   MIN((((2654435761 * (i + 1)) % 2147483647) * hb
                        + (40503 * (i + 1)) % 2147483647)
                       % 2147483647) AS mhv
            FROM hs, UNNEST(generate_series(0, 31)) AS u(i)
            GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 4 AS band,
                   string_agg(mhv::VARCHAR, ',' ORDER BY i) AS bucket
            FROM mh GROUP BY doc_id, i // 4
        ), cand AS (
            SELECT DISTINCT p.doc_id AS doc_id, c.doc_id AS dup_doc
            FROM (SELECT b.* FROM bands b
                  JOIN reps r ON b.doc_id = r.doc_id) p
            JOIN (SELECT * FROM bands WHERE doc_id % 5 <> 0) c
              ON p.band = c.band AND p.bucket = c.bucket
        ), near_n AS (
            SELECT doc_id, COUNT(*) AS n_near_dups
            FROM (
                SELECT cand.doc_id,
                       CAST(len(list_intersect(sp.shingles, sc.shingles))
                            AS DOUBLE)
                       / (len(sp.shingles) + len(sc.shingles)
                          - len(list_intersect(sp.shingles, sc.shingles)))
                           AS jaccard
                FROM cand
                JOIN sh sp ON sp.doc_id = cand.doc_id
                JOIN sh sc ON sc.doc_id = cand.dup_doc
            )
            WHERE jaccard >= 0.5 GROUP BY doc_id
        ), cand_n AS (
            SELECT doc_id, COUNT(*) AS n_lsh_candidates
            FROM cand GROUP BY doc_id
        )
        SELECT r.doc_id, r.n_batch_copies,
               COALESCE(cn.n_lsh_candidates, 0) AS n_lsh_candidates,
               COALESCE(nn.n_near_dups, 0) AS n_near_dups,
               COALESCE(nn.n_near_dups, 0) = 0 AS admitted
        FROM reps r
        LEFT JOIN cand_n cn ON cn.doc_id = r.doc_id
        LEFT JOIN near_n nn ON nn.doc_id = r.doc_id
    """,
    # Two-round incremental ingest: batch 2's standing keys are the
    # corpus's PLUS the batch-1 kept representatives' (monotone
    # admission). Same NOT EXISTS convention as dedup_incremental.
    "dedup_incremental_2batch": """
        WITH fps AS (
            SELECT doc_id, md5(lower(trim(text))) AS fp,
                   substr(text, 1, 60) AS pfx
            FROM documents
        ),
        corpus AS (SELECT * FROM fps WHERE doc_id % 5 >= 2),
        b1 AS (SELECT * FROM fps WHERE doc_id % 5 = 0),
        b2 AS (SELECT * FROM fps WHERE doc_id % 5 = 1),
        surv1 AS (
            SELECT * FROM b1 i
            WHERE NOT EXISTS (SELECT 1 FROM corpus e WHERE e.fp = i.fp)
              AND NOT EXISTS (SELECT 1 FROM corpus e WHERE e.pfx = i.pfx)
        ),
        adm1 AS (
            SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
            FROM surv1 GROUP BY fp
        ),
        rep1 AS (
            SELECT s.* FROM surv1 s
            JOIN adm1 a ON s.fp = a.fp AND s.doc_id = a.doc_id
        ),
        adm2 AS (
            SELECT fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
            FROM b2 i
            WHERE NOT EXISTS (SELECT 1 FROM corpus e WHERE e.fp = i.fp)
              AND NOT EXISTS (SELECT 1 FROM rep1 e WHERE e.fp = i.fp)
              AND NOT EXISTS (SELECT 1 FROM corpus e WHERE e.pfx = i.pfx)
              AND NOT EXISTS (SELECT 1 FROM rep1 e WHERE e.pfx = i.pfx)
            GROUP BY fp
        )
        SELECT doc_id, 1 AS batch, n_batch_copies FROM adm1
        UNION ALL
        SELECT doc_id, 2 AS batch, n_batch_copies FROM adm2
    """,
    # Per-doc trigram novelty of the incoming slice vs the standing
    # corpus: same shingle CTE semantics as the near-dup chain
    # (len<3 fallback to the token list, per-doc distinct).
    "ngram_novelty": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), existing AS (
            SELECT DISTINCT shingle FROM inv WHERE doc_id % 5 <> 0
        ), inc AS (
            SELECT * FROM inv WHERE doc_id % 5 = 0
        )
        SELECT doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM existing e WHERE e.shingle = inc.shingle)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               round(CAST(SUM(CASE WHEN NOT EXISTS (
                   SELECT 1 FROM existing e WHERE e.shingle = inc.shingle)
                   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) + 0.0
                   AS novelty
        FROM inc GROUP BY doc_id
    """,
    # Per-source deterministic cap: same md5-prefix pick order as the
    # Spark window, replayed via QUALIFY.
    "source_cap": f"""
        SELECT doc_id, source, lang,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS pick_key,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id
               ) AS BIGINT) AS rk
        FROM documents
        QUALIFY rk <= {SOURCE_CAP}
    """,
    "dedup_fingerprint": """
        SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "dedup_ngram": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), sizes AS (
            SELECT doc_id, len(shingles) AS n_sh FROM sh
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
    # Asymmetric containment twin (r10): |A∩B|/|A| ≥ 0.8 with
    # |A| ≤ |B| (doc_id tiebreak). The naive all-pairs self-join IS
    # the reference; the Spark side's one-sided prefix filter is
    # lossless by the overlap-form Bayardo argument, so the rows must
    # match exactly. int/int IEEE division is deterministic on both
    # engines.
    "dedup_containment": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), sizes AS (
            SELECT doc_id, len(shingles) AS n_sh FROM sh
        ), common AS (
            SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
                   COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_inner, doc_outer,
               CAST(n_common AS DOUBLE) / sa.n_sh AS containment
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_inner
        JOIN sizes sb ON sb.doc_id = doc_outer
        WHERE (sa.n_sh < sb.n_sh
               OR (sa.n_sh = sb.n_sh AND doc_inner < doc_outer))
          AND CAST(n_common AS DOUBLE) / sa.n_sh >= 0.8
    """,
    # MinHash+LSH twin: see _MINHASH_PAIRS_CTE — the full banded
    # pipeline reproduces bit-for-bit under the md5-prefix convention,
    # so the probabilistic candidate set itself is verified, not just
    # containment in the exact graph.
    "dedup_minhash": f"""
        WITH {_MINHASH_PAIRS_CTE}
        SELECT doc_a, doc_b, jaccard FROM mh_pairs WHERE jaccard >= 0.5
    """,
    # Connected components over the (bit-exact-replicated) MinHash-LSH
    # near-dup graph — min-label walk, same pattern as
    # dedup_clusters_exact but on the LSH edge set itself.
    "dedup_clusters": f"""
        WITH RECURSIVE {_MINHASH_PAIRS_CTE},
        lsh_pairs AS (
            SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= 0.5
        ), lsh_edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
            UNION ALL
            SELECT doc_b, doc_a FROM lsh_pairs
        ), lsh_walk AS (
            SELECT src AS node, src AS comp FROM lsh_edges
            UNION
            SELECT e.dst AS node, w.comp
            FROM lsh_walk w JOIN lsh_edges e ON e.src = w.node
        )
        SELECT node AS doc_id, MIN(comp) AS cluster_id
        FROM lsh_walk GROUP BY node
    """,
    # Window-bounded dedup: first event per (hour, user, type).
    "dedup_windowed": """
        SELECT event_id, user_id, event_type, ts,
               date_trunc('hour', ts) AS win_start
        FROM (
            SELECT event_id, user_id, event_type, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY date_trunc('hour', ts), user_id,
                                    event_type
                       ORDER BY ts, event_id) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    # Benchmark decontamination: 8-gram shingles (DECONTAM_K), same
    # md5-bucket eval membership as deterministic_sample.
    "decontaminate": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                       % 100 < 2 AS is_eval,
                   list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(generate_series(1, len(t) - 7),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                      || ' ' || t[i+3] || ' ' || t[i+4]
                                      || ' ' || t[i+5] || ' ' || t[i+6]
                                      || ' ' || t[i+7])
                            ELSE t END) AS shingles
            FROM toks
        ), train_inv AS (
            SELECT doc_id, unnest(shingles) AS shingle
            FROM sh WHERE NOT is_eval
        ), eval_stats AS (
            SELECT shingle, COUNT(*) AS n_eval_docs_with
            FROM (SELECT doc_id, unnest(shingles) AS shingle
                  FROM sh WHERE is_eval)
            GROUP BY shingle
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
               CAST(SUM(e.n_eval_docs_with) AS BIGINT) AS n_eval_hits
        FROM train_inv t JOIN eval_stats e ON t.shingle = e.shingle
        GROUP BY t.doc_id
    """,
    # Connected components over the near-dup graph: the recursive
    # walk enumerates every (node, reachable-comp seed) pair; MIN over
    # the walk = the component's minimum id — identical semantics to
    # the Spark side's min-label propagation fixpoint. Keyed to the
    # EXACT-graph variant since r04: the LSH-graph dedup_clusters is
    # rows-only by declaration (banding is probabilistic; equality
    # with this exact walk is fixture-dependent — ADVICE r03).
    "dedup_clusters_exact": f"""
        WITH RECURSIVE {_NEARDUP_CC_CTE}
        SELECT node AS doc_id, MIN(comp) AS cluster_id
        FROM walk GROUP BY node
    """,
    # Keep-list twin: every document except non-representative members
    # of a near-dup cluster (representative = the component minimum,
    # exactly dedup_clusters' labeling).
    "dedup_keep": f"""
        WITH RECURSIVE {_NEARDUP_CC_CTE},
        clusters AS (
            SELECT node AS doc_id, MIN(comp) AS cluster_id
            FROM walk GROUP BY node
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (
            SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
        )
    """,
    "corpus_prep": """
        WITH base AS (
            SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
                                              'g')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','of','and','is'))) AS BIGINT)
                       AS stop_hits
            FROM documents
        ), scored AS (
            SELECT doc_id, text,
                   least(CASE WHEN n_tokens > 0
                              THEN CAST(n_tokens AS DOUBLE) END / 100.0, 1.0)
                       * 0.4
                   + (CAST(stop_hits AS DOUBLE)
                      / CASE WHEN n_tokens > 0
                             THEN CAST(n_tokens AS DOUBLE) END) * 0.4
                   + (1.0 - CAST(n_punct AS DOUBLE)
                      / CASE WHEN n_chars > 0
                             THEN CAST(n_chars AS DOUBLE) END) * 0.2
                       AS quality_score,
                   CASE WHEN greatest(
                            len(list_filter(toks,
                                x -> x IN ('the','a','of','and','is'))),
                            len(list_filter(toks,
                                x -> x IN ('le','la','et','les','des'))),
                            len(list_filter(toks,
                                x -> x IN ('der','die','und','das','ist'))),
                            len(list_filter(toks,
                                x -> x IN ('el','los','y','las','una')))) = 0
                        THEN 'und'
                        WHEN len(list_filter(toks,
                                x -> x IN ('the','a','of','and','is'))) =
                             greatest(
                            len(list_filter(toks,
                                x -> x IN ('the','a','of','and','is'))),
                            len(list_filter(toks,
                                x -> x IN ('le','la','et','les','des'))),
                            len(list_filter(toks,
                                x -> x IN ('der','die','und','das','ist'))),
                            len(list_filter(toks,
                                x -> x IN ('el','los','y','las','una'))))
                        THEN 'en'
                        WHEN len(list_filter(toks,
                                x -> x IN ('le','la','et','les','des'))) =
                             greatest(
                            len(list_filter(toks,
                                x -> x IN ('the','a','of','and','is'))),
                            len(list_filter(toks,
                                x -> x IN ('le','la','et','les','des'))),
                            len(list_filter(toks,
                                x -> x IN ('der','die','und','das','ist'))),
                            len(list_filter(toks,
                                x -> x IN ('el','los','y','las','una'))))
                        THEN 'fr'
                        WHEN len(list_filter(toks,
                                x -> x IN ('der','die','und','das','ist'))) =
                             greatest(
                            len(list_filter(toks,
                                x -> x IN ('the','a','of','and','is'))),
                            len(list_filter(toks,
                                x -> x IN ('le','la','et','les','des'))),
                            len(list_filter(toks,
                                x -> x IN ('der','die','und','das','ist'))),
                            len(list_filter(toks,
                                x -> x IN ('el','los','y','las','una'))))
                        THEN 'de'
                        ELSE 'es' END AS lang_pred
            FROM base
        ), gated AS (
            SELECT * FROM scored
            WHERE quality_score >= 0.5 AND lang_pred IN ('en', 'und')
        ), dedup AS (
            SELECT md5(lower(trim(text))) AS fp,
                   MIN(doc_id) AS doc_id,
                   COUNT(*) AS n_copies,
                   MIN(text) AS text,
                   MIN(quality_score) AS quality_score,
                   MIN(lang_pred) AS lang_pred
            FROM gated GROUP BY 1
        )
        SELECT doc_id, n_copies, lang_pred,
               round(quality_score, 6) AS quality_score,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
        FROM dedup
    """,
    # --- similarity search ------------------------------------------------
    "topk_similarity": """
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qvec
            FROM embeddings WHERE vec_id = 0
        )
        SELECT vec_id, ROUND(sim, 4) + 0.0 AS sim FROM (
            SELECT vec_id,
                   list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                          qvec) AS sim
            FROM embeddings, q
            WHERE vec_id <> 0
        ) ORDER BY sim DESC, vec_id LIMIT 10
    """,
    # Per-source curation dashboard twin: fingerprint dup membership,
    # repeated-span incidence (same CTE chain as dedup_substring), and
    # the quality_score expression replica, aggregated per source.
    "curation_report": f"""
        WITH base AS (
            SELECT doc_id, source, md5(lower(trim(text))) AS fp,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
                                              'g')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','of','and','is'))) AS BIGINT)
                       AS stop_hits
            FROM documents
        ), scored AS (
            -- same zero-token/zero-char guards as the Spark side:
            -- quality is NULL (skipped by SUM, counted by COUNT) for
            -- empty docs, never NaN
            SELECT doc_id, source, fp, n_tokens,
                   CASE WHEN n_tokens > 0 AND n_chars > 0 THEN
                       LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                       + (CAST(stop_hits AS DOUBLE)
                          / CAST(n_tokens AS DOUBLE)) * 0.4
                       + (1.0 - CAST(n_punct AS DOUBLE)
                                / CAST(n_chars AS DOUBLE)) * 0.2
                   END AS quality_score
            FROM base
        ), dup_fps AS (
            SELECT fp FROM base GROUP BY fp HAVING COUNT(*) > 1
        ), toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(t[i:i+4], ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        ), dup AS (
            SELECT doc_id, pos FROM sh
            WHERE shingle IN (SELECT shingle FROM sh
                              GROUP BY shingle HAVING COUNT(*) >= 2)
        ), spanruns AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM dup
        ), span_docs AS (
            SELECT DISTINCT doc_id FROM spanruns
            GROUP BY doc_id, grp
            HAVING MAX(pos) - MIN(pos) + 5 >= 30
        ), per_source AS (
            SELECT source, COUNT(*) AS n_docs,
                   {_isum('n_tokens')} AS n_tokens,
                   ROUND({fine_sum_sql('quality_score', 18)} / COUNT(*), 6)
                       + 0.0
                       AS mean_quality
            FROM scored GROUP BY source
        ), ed AS (
            SELECT source, COUNT(*) AS n_exact_dup_docs FROM scored
            WHERE fp IN (SELECT fp FROM dup_fps) GROUP BY source
        ), sp AS (
            SELECT source, COUNT(*) AS n_span_docs FROM scored
            WHERE doc_id IN (SELECT doc_id FROM span_docs) GROUP BY source
        )
        SELECT p.source, n_docs, n_tokens, mean_quality,
               COALESCE(n_exact_dup_docs, 0) AS n_exact_dup_docs,
               COALESCE(n_span_docs, 0) AS n_span_docs
        FROM per_source p
        LEFT JOIN ed USING (source)
        LEFT JOIN sp USING (source)
    """,
    # SimHash twin: same md5-prefix 60-bit token hash, same ±1 bit
    # votes, same 4×15-bit chunk blocking and bit_count(xor) verify —
    # the full pipeline reproduces bit-for-bit.
    "dedup_simhash": """
        WITH toks AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id,
                         unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS tok
                  FROM documents)
        ), votes AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM toks, UNNEST(generate_series(0, 59)) AS u(b)
            GROUP BY doc_id, b
        ), sigs AS (
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                            ELSE 0 END) AS sig
            FROM votes GROUP BY doc_id
        ), chunks AS (
            SELECT doc_id, sig, c, (sig >> (c * 15)) & 32767 AS ck
            FROM sigs, UNNEST(generate_series(0, 3)) AS u(c)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sig, b.sig)) AS hamming
        FROM chunks a
        JOIN chunks b ON a.c = b.c AND a.ck = b.ck
                     AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    # Winnowing twin: same single-space tokenization, same md5-prefix
    # 60-bit shingle hash, same W-window minima — fingerprints match
    # bit-for-bit.
    "doc_winnow": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), h AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(t) - 4),
                       i -> ('0x' || substr(md5(
                                array_to_string(t[i:i+4], ' ')), 1, 15)
                            )::BIGINT) AS hs
            FROM toks WHERE len(t) >= 5
        ), wins AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, greatest(len(hs) - 3, 1)),
                       j -> list_min(hs[j:j+3]))) AS fps
            FROM h
        )
        SELECT doc_id, unnest(fps) AS fp FROM wins
    """,
    # Video twin: synth_video's arithmetic header fields.
    "video_meta": """
        SELECT doc_id AS media_id,
               CAST(64 + (doc_id % 16) * 16 AS INT) AS width,
               CAST(48 + (doc_id % 9) * 16 AS INT) AS height,
               CAST([24, 25, 30][CAST(doc_id % 3 AS INT) + 1] AS INT) AS fps,
               CAST(100 + doc_id % 200 AS INT) AS n_frames,
               CAST((100 + doc_id % 200) * 1000 //
                    [24, 25, 30][CAST(doc_id % 3 AS INT) + 1]
                    AS BIGINT) AS duration_ms,
               TRUE AS ok
        FROM documents
    """,
    # Audio twin: multimodal.synth_audio derives every WAV header field
    # arithmetically from doc_id; recompute them here without parsing
    # bytes, so a hash match proves the header build + struct parse
    # round-trip.
    "audio_meta": """
        SELECT doc_id AS media_id,
               CAST(1 + doc_id % 2 AS INT) AS n_channels,
               CAST([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]
                    AS INT) AS sample_rate,
               CAST(16 AS INT) AS bits_per_sample,
               CAST(100 + doc_id % 50 AS INT) AS n_samples,
               CAST((100 + doc_id % 50) * 1000000 //
                    [8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INT) + 1]
                    AS BIGINT) AS duration_us,
               TRUE AS ok
        FROM documents
    """,
    # Shingle-run substring dedup twin: same single-space tokenization
    # as nonempty_tokens, string shingles where Spark joins on their
    # xxhash64 (injective up to 64-bit collisions).
    "dedup_substring": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(t[i:i+4], ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        ), dup AS (
            SELECT doc_id, pos FROM sh
            WHERE shingle IN (SELECT shingle FROM sh
                              GROUP BY shingle HAVING COUNT(*) >= 2)
        ), runs AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM dup
        )
        SELECT doc_id, MIN(pos) AS span_start,
               MAX(pos) - MIN(pos) + 5 AS span_tokens
        FROM runs GROUP BY doc_id, grp
        HAVING MAX(pos) - MIN(pos) + 5 >= 30
    """,
    # PPS systematic-sampling twin: one window prefix sum + the same
    # all-integer grid arithmetic ('//' is DuckDB integer division on
    # integer operands, matching Spark's 'div').
    "pps_sample": """
        WITH w AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
        ), c AS (
            SELECT doc_id, w,
                   COALESCE(SUM(w) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS before
            FROM w
        ), t AS (
            SELECT GREATEST(CAST(SUM(w) AS BIGINT) // 100, 1) AS step
            FROM w
        )
        SELECT doc_id, w, CAST(before AS BIGINT) AS before,
               CAST((before + w) // step - before // step AS BIGINT)
                   AS n_picks
        FROM c, t
        WHERE (before + w) // step - before // step >= 1
    """,
    # Span-cut materialization twin: the dedup_substring CTE chain,
    # then tokens minus flagged positions per affected doc (1-based
    # indexed list_filter mirrors Spark's F.filter(t, (x, i) -> ...)).
    "dedup_substring_apply": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(t[i:i+4], ' ') AS shingle
            FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        ), dup AS (
            SELECT doc_id, pos FROM sh
            WHERE shingle IN (SELECT shingle FROM sh
                              GROUP BY shingle HAVING COUNT(*) >= 2)
        ), runs AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM dup
        ), spans AS (
            SELECT doc_id, MIN(pos) AS span_start,
                   MAX(pos) - MIN(pos) + 5 AS span_tokens
            FROM runs GROUP BY doc_id, grp
            HAVING MAX(pos) - MIN(pos) + 5 >= 30
        ), flagged AS (
            SELECT doc_id, list_sort(list_distinct(flatten(list(ps)))) AS flagged
            FROM (SELECT doc_id,
                         generate_series(span_start,
                                         span_start + span_tokens - 1) AS ps
                  FROM spans)
            GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(len(f.flagged) AS BIGINT) AS n_removed,
               CAST(len(t.t) - len(f.flagged) AS BIGINT) AS n_kept,
               COALESCE(array_to_string(
                   list_filter(t.t,
                               (x, i) -> NOT list_contains(f.flagged, i)),
                   ' '), '') AS clean_text
        FROM toks t JOIN flagged f USING (doc_id)
    """,
    # Same planting as similarity.contract_vectors: one perturbed twin
    # (first component × 0.9, double precision) per 25th vector, ids
    # offset by 1e6 — the raw fixture is uniform random with max
    # pairwise cos ≈ 0.51, so without planting this query is vacuous.
    "embedding_neardup_exact": """
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_concat([d[1] * 0.9], d[2:])
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
                  FROM embeddings WHERE vec_id % 25 = 0)
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
        FROM vecs a
        JOIN vecs b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.95
    """,
    # Banded sign-LSH near-dup twin: replays the integer-plane
    # signature pipeline (see _SIGNLSH_BANDS_CTE) over the planted
    # contract vectors, joins candidates on (band, bucket) agreement,
    # and exact-cosine-verifies — the probabilistic candidate set
    # itself is cross-engine-verified.
    "embedding_neardup": f"""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_concat([d[1] * 0.9], d[2:])
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
                  FROM embeddings WHERE vec_id % 25 = 0)
        ), {_SIGNLSH_BANDS_CTE},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sbands a
            JOIN sbands b ON a.band = b.band AND a.bucket = b.bucket
                         AND a.vec_id < b.vec_id
        )
        SELECT c.vec_a, c.vec_b,
               ROUND(list_cosine_similarity(va.v, vb.v), 4) AS sim
        FROM cand c
        JOIN vecs va ON va.vec_id = c.vec_a
        JOIN vecs vb ON vb.vec_id = c.vec_b
        WHERE ROUND(list_cosine_similarity(va.v, vb.v), 4) >= 0.95
    """,
    # Sign-LSH ANN twin: the query vector's 8 band buckets come from
    # the same replica pipeline; candidates = vectors sharing any
    # band; exact-cosine top-10 re-rank (ordering convention as in
    # topk_similarity).
    "ann_lsh": f"""
        WITH vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), {_SIGNLSH_BANDS_CTE},
        qb AS (SELECT band, bucket FROM sbands WHERE vec_id = 0),
        cand AS (
            SELECT DISTINCT s.vec_id
            FROM sbands s
            JOIN qb ON s.band = qb.band AND s.bucket = qb.bucket
            WHERE s.vec_id <> 0
        )
        SELECT vec_id, ROUND(sim, 4) + 0.0 AS sim FROM (
            SELECT c.vec_id,
                   list_cosine_similarity(
                       v.v, (SELECT v FROM vecs WHERE vec_id = 0)) AS sim
            FROM cand c JOIN vecs v ON v.vec_id = c.vec_id
        ) ORDER BY sim DESC, vec_id LIMIT 10
    """,
    "tpch_q14": f"""
        SELECT 100.0 * {exact_sum_sql(_price_when("p_type = 'PROMO'"), 4)}
                     / {exact_sum_sql(DISC_PRICE_SQL, 4)}
                   AS promo_pct,
               {exact_sum_sql(DISC_PRICE_SQL, 4)}
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= '1999-09-01' AND l_shipdate < '1999-10-01'
    """,
    "tpch_q18": f"""
        WITH big AS (
            SELECT l_orderkey, {exact_sum_sql('l_quantity', 2)} AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING {exact_sum_sql('l_quantity', 2)} > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               sum_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "skewed_agg": f"""
        SELECT l_returnflag,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "unpivot": """
        SELECT l_orderkey, l_linenumber, measure, value FROM (
            SELECT l_orderkey, l_linenumber,
                   'l_quantity' AS measure, l_quantity AS value
            FROM lineitem WHERE l_orderkey % 100 = 0
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                   l_extendedprice
            FROM lineitem WHERE l_orderkey % 100 = 0
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
            FROM lineitem WHERE l_orderkey % 100 = 0
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
            FROM lineitem WHERE l_orderkey % 100 = 0
        )
    """,
    "gap_fill": f"""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hr,
                   COUNT(*) AS n_events,
                   {exact_sum_sql('value', 2)} AS sum_value
            FROM events GROUP BY 1, 2
        ), grid AS (
            SELECT user_id,
                   unnest(generate_series(MIN(hr), MAX(hr),
                                          INTERVAL 1 HOUR)) AS hr
            FROM hourly GROUP BY user_id
        )
        SELECT g.user_id, g.hr,
               COALESCE(h.n_events, 0) AS n_events,
               last_value(h.sum_value IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.hr
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sum_value_ff
        FROM grid g
        LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    """,
    "merge_upsert": """
        WITH sampled AS (
            SELECT * FROM orders
            WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))
                      ::BIGINT % 10 = 0
        ), src AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 100.0 AS o_totalprice, o_orderdate,
                   'REPRICED' AS o_orderpriority
            FROM sampled
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, 'N',
                   o_totalprice, o_orderdate, 'BACKFILL'
            FROM sampled
        ), merged AS (
            SELECT * FROM src
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders
            ANTI JOIN src USING (o_orderkey)
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority,
               CASE WHEN o_orderpriority = 'REPRICED' THEN 'updated'
                    WHEN o_orderpriority = 'BACKFILL' THEN 'inserted'
                    ELSE 'kept' END AS merge_action
        FROM merged
    """,
    "scd2_apply": """
        WITH cust AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                   ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
                       ::BIGINT % 10 = 0 AS changed
            FROM customer
        )
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               TIMESTAMP '1990-01-01' AS valid_from,
               CASE WHEN changed THEN TIMESTAMP '1998-01-01' END AS valid_to,
               CAST(CASE WHEN changed THEN 0 ELSE 1 END AS BIGINT)
                   AS is_current,
               CAST(1 AS BIGINT) AS version
        FROM cust
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 500.0, 'UPGRADED',
               TIMESTAMP '1998-01-01', NULL, CAST(1 AS BIGINT),
               CAST(2 AS BIGINT)
        FROM cust WHERE changed
    """,
    "tpch_q7": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '2000-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "tpch_q13": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q15": f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {exact_sum_sql(DISC_PRICE_SQL, 4)}
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= '1999-01-01' AND l_shipdate < '1999-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, s_acctbal, total_revenue
        FROM revenue JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "tpch_q17": f"""
        WITH branded AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#12'
        ), per_part AS (
            SELECT l_partkey AS avg_partkey, {exact_avg_sql('l_quantity', 2)} AS avg_qty
            FROM branded GROUP BY l_partkey
        )
        SELECT {exact_sum_sql('l_extendedprice', 4)} / 7.0 AS avg_yearly,
               COUNT(*) AS n_items
        FROM branded JOIN per_part ON l_partkey = avg_partkey
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "tpch_q19": f"""
        SELECT {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "window_range": f"""
        SELECT event_id, user_id, ts,
               {exact_sum_over_sql('value', 'w', 2)} AS trail_sum,
               COUNT(*) OVER w AS trail_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
    """,
    # --- multimodal --------------------------------------------------------
    # The synthetic blob layout (operators/multimodal.py synth_media) is a
    # pure function of doc_id: IMG0 + u16le w + u16le h + u8 c + payload of
    # (doc_id % 8 + 1) md5 bytes. The oracle recomputes the metadata
    # arithmetically; a hash match proves Spark's binary build + Arrow
    # mapInPandas header parse round-trips exactly.
    "media_meta": """
        SELECT doc_id AS media_id,
               CAST(16 + doc_id % 485 AS INT) AS width,
               CAST(16 + (doc_id * 7) % 485 AS INT) AS height,
               CAST(1 + doc_id % 4 AS INT) AS channels,
               CAST(10 + doc_id % 8 AS BIGINT) AS n_bytes,
               TRUE AS ok
        FROM documents
    """,
    # Real-PNG twin: every column is doc_id arithmetic mirroring
    # synth_png (signature 8 + IHDR 25 + IDAT 12+plen + IEND 12 bytes;
    # crc_ok TRUE is the contract — Spark must have rebuilt and
    # re-verified the real CRC-32 to emit it).
    "png_meta": """
        SELECT doc_id AS media_id,
               CAST(16 + doc_id % 1009 AS INT) AS width,
               CAST(16 + (doc_id * 13) % 1009 AS INT) AS height,
               CAST(8 AS INT) AS bit_depth,
               CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 2
                    WHEN 2 THEN 3 ELSE 6 END AS INT) AS color_type,
               CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
                    WHEN 2 THEN 1 ELSE 4 END AS INT) AS channels,
               CAST(58 + doc_id % 8 AS BIGINT) AS n_bytes,
               TRUE AS crc_ok,
               TRUE AS ok
        FROM documents
    """,
    # Real-JPEG twin: SOI 2 + APP0 18 + SOF0 (10 + 3*ncomp) + EOI 2.
    "jpeg_meta": """
        SELECT doc_id AS media_id,
               CAST(32 + (doc_id * 5) % 2000 AS INT) AS width,
               CAST(32 + (doc_id * 3) % 1500 AS INT) AS height,
               CAST(8 AS INT) AS precision,
               CAST(1 + (doc_id % 2) * 2 AS INT) AS n_components,
               CAST(32 + (1 + (doc_id % 2) * 2) * 3 AS BIGINT) AS n_bytes,
               TRUE AS ok
        FROM documents
    """,
    # Frames are every-2nd payload byte; payload = md5-hex prefix of
    # doc_id, length (doc_id % 8 + 1) bytes. frame_no is the 0-based
    # BYTE index (steps of 2), frame_hex the uppercase hex of that byte.
    "media_frames": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   doc_id % 8 + 1 AS plen,
                   upper(md5(CAST(doc_id AS VARCHAR))) AS h
            FROM documents
        )
        SELECT media_id,
               CAST(unnest(generate_series(0, plen - 1, 2)) AS INT)
                   AS frame_no,
               substr(h, unnest(generate_series(0, plen - 1, 2)) * 2 + 1, 2)
                   AS frame_hex
        FROM m
    """,
    # Fixed-key map layout: the oracle recomputes keys/values directly
    # (map built from literals + the single-key props JSON).
    "map_funcs": """
        SELECT event_id,
               CAST(3 AS BIGINT) AS n_keys,
               'k,type,uid' AS keys,
               event_type AS type_val,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
    """,
    # --- sketch twins ------------------------------------------------------
    "exact_distinct_agg": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "latest_order": """
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        FROM orders
        QUALIFY row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC
        ) = 1
    """,
    # Centroid sums are decimal(38,20)-routed on both sides so the
    # accumulation is order-independent; the /n mean is one double
    # division and the 6-decimal round makes hashing robust.
    "label_centroid": f"""
        WITH flat AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        )
        SELECT label, dim,
               round({fine_sum_sql('v', 20)} / COUNT(*), 6) + 0.0
                   AS centroid_v,
               COUNT(*) AS n_vecs
        FROM flat GROUP BY label, dim
    """,
    # Q22 shape: scalar avg subquery (exact-decimal) + anti join + agg.
    "tpch_q1": f"""
        SELECT l_returnflag, l_linestatus,
               {exact_sum_sql('l_quantity', 2)} AS sum_qty,
               {exact_sum_sql('l_extendedprice', 2)} AS sum_base_price,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS sum_disc_price,
               {exact_sum_sql(CHARGE_SQL, 6)}
                   AS sum_charge,
               {exact_avg_sql('l_quantity', 2)} AS avg_qty,
               {exact_avg_sql('l_extendedprice', 2)} AS avg_price,
               {exact_avg_sql('l_discount', 2)} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '2001-08-06'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "tpch_q8": f"""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               {exact_sum_sql(_price_when("n2.n_name = 'NATION_1'"), 4)}
                 / {exact_sum_sql(DISC_PRICE_SQL, 4)} AS mkt_share,
               {exact_sum_sql(DISC_PRICE_SQL, 4)} AS total_volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
          AND o_orderdate >= '1998-01-01' AND o_orderdate < '2000-01-01'
        GROUP BY 1
        ORDER BY 1
    """,
    "tpch_q22": f"""
        WITH thresh AS (
            SELECT {exact_sum_sql('c_acctbal', 2)} / COUNT(c_acctbal) AS avg_bal
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey, COUNT(*) AS numcust,
               {exact_sum_sql('c_acctbal', 2)} AS totacctbal
        FROM customer, thresh
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0
          )
        GROUP BY c_nationkey
    """,
    # --- LLM-pipeline text surface (round 2) -------------------------------
    # Chunking: starts at 1, 31, 61, ... (stride 30); DuckDB list slicing
    # is 1-based inclusive, so a 40-token chunk is toks[start : start+39].
    "doc_chunk": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1, 30)) AS start
            FROM t WHERE len(toks) > 0
        )
        SELECT doc_id,
               CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
               array_to_string(toks[start : start + 39], ' ') AS chunk_text,
               CAST(least(40, len(toks) - start + 1) AS BIGINT)
                   AS n_chunk_tokens
        FROM s
    """,
    # Quality-stratified deciles: the naive-window formulation (global
    # row_number + count-over) that the Spark side's range-exchange +
    # offset-merge rank must reproduce exactly. Quality formula is the
    # corpus_prep scoring, verbatim.
    "quality_deciles": """
        WITH base AS (
            SELECT doc_id, text,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
                                              'g')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','of','and','is'))) AS BIGINT)
                       AS stop_hits
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   least(CASE WHEN n_tokens > 0
                              THEN CAST(n_tokens AS DOUBLE) END / 100.0, 1.0)
                       * 0.4
                   + (CAST(stop_hits AS DOUBLE)
                      / CASE WHEN n_tokens > 0
                             THEN CAST(n_tokens AS DOUBLE) END) * 0.4
                   + (1.0 - CAST(n_punct AS DOUBLE)
                      / CASE WHEN n_chars > 0
                             THEN CAST(n_chars AS DOUBLE) END) * 0.2
                       AS q
            FROM base
        ), r AS (
            SELECT q,
                   ROW_NUMBER() OVER (ORDER BY q, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM scored
        )
        SELECT CAST((10 * (rn - 1)) // n AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               round(MIN(q), 6) + 0.0 AS min_score,
               round(MAX(q), 6) + 0.0 AS max_score
        FROM r GROUP BY 1
    """,
    # Gopher-style repetition signals: duplicate fractions are pure
    # list math; top-bigram mass via the same two-level aggregate.
    # Integer-ratio divisions are bit-exact in both engines.
    "doc_repetition": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), f AS (
            SELECT doc_id, toks,
                   list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1]) AS bgs,
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1]
                                       || ' ' || toks[i+2]) AS tgs
            FROM t WHERE len(toks) >= 3
        ), m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                       / len(toks) AS dup_token_frac,
                   CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE)
                       / len(bgs) AS dup_bigram_frac,
                   CAST(len(tgs) - len(list_distinct(tgs)) AS DOUBLE)
                       / len(tgs) AS dup_trigram_frac
            FROM f
        ), bc AS (
            SELECT doc_id, bigram, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(bgs) AS bigram FROM f)
            GROUP BY doc_id, bigram
        ), top AS (
            SELECT doc_id, MAX(c) AS top_bigram_count,
                   SUM(c) AS n_bigrams
            FROM bc GROUP BY doc_id
        )
        SELECT m.doc_id, n_tokens, dup_token_frac, dup_bigram_frac,
               dup_trigram_frac,
               CAST(top_bigram_count AS BIGINT) AS top_bigram_count,
               CAST(top_bigram_count AS DOUBLE) / n_bigrams
                   AS top_bigram_frac
        FROM m JOIN top USING (doc_id)
    """,
    # Concatenate-and-split sequence packing: the naive single-window
    # formulation — the Spark side's range-exchange + offset-merge
    # prefix sum (textops.pack_sequences) must reproduce it exactly.
    "seq_pack": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1, 30)) AS start
            FROM t WHERE len(toks) > 0
        ), c AS (
            SELECT doc_id,
                   CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
                   CAST(least(40, len(toks) - start + 1) AS BIGINT)
                       AS n_chunk_tokens
            FROM s
        ), p AS (
            SELECT doc_id, chunk_id, n_chunk_tokens,
                   COALESCE(SUM(n_chunk_tokens) OVER (
                       ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS st
            FROM c
        )
        SELECT doc_id, chunk_id, n_chunk_tokens,
               CAST(st // 512 AS BIGINT) AS seq_id,
               CAST(st % 512 AS BIGINT) AS seq_off
        FROM p
    """,
    "bigram_freq": """
        WITH t AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), b AS (
            SELECT toks[i] || ' ' || toks[i + 1] AS bigram
            FROM t, unnest(range(1, len(toks))) AS r(i)
            WHERE len(toks) >= 2
        )
        SELECT bigram, COUNT(*) AS cnt
        FROM b GROUP BY bigram HAVING COUNT(*) >= 5
    """,
    "stratified_sample": """
        WITH d AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                       % 100 AS sample_bucket,
                   CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 10
                             WHEN 'es' THEN 20 WHEN 'fr' THEN 30
                             WHEN 'zh' THEN 50 ELSE 0 END AS keep_pct
            FROM documents
        )
        SELECT doc_id, lang, sample_bucket, CAST(keep_pct AS BIGINT) AS keep_pct
        FROM d WHERE sample_bucket < keep_pct
    """,
    # Unigram LM quality proxy: -ln p rounded to 6 decimals per token
    # (the tfidf ln convention), decimal-routed per-doc sum.
    "unigram_logprob": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), freq AS (
            SELECT token, SUM(tf) AS cnt FROM tf GROUP BY 1
        ), tot AS (
            SELECT SUM(cnt) AS total FROM freq
        ), nlp AS (
            SELECT token,
                   CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)),
                              6) AS DECIMAL(18,6)) AS nlp
            FROM freq CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(SUM(tf * nlp) AS DOUBLE) / SUM(tf) AS mean_nll,
               CAST(SUM(tf) AS BIGINT) AS n_tok
        FROM tf JOIN nlp USING (token)
        GROUP BY doc_id
    """,
    # Interpolated-bigram LM proxy (r10): mirrors q_bigram_logprob's
    # arithmetic term-for-term — 0.7/0.3 as literal doubles (NOT 1−λ:
    # Python's 1.0−0.7 is a different double than the SQL literal),
    # int/int IEEE divisions, -ln rounded to 6 decimals per transition,
    # decimal-routed per-doc sum. The unigram backoff counts ALL corpus
    # tokens (including 1-token docs that contribute no transitions).
    "bigram_logprob": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), tf AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS tf
            FROM toks, unnest(range(1, len(t))) AS r(i)
            WHERE len(t) >= 2
            GROUP BY 1, 2, 3
        ), big AS (
            SELECT w1, w2, SUM(tf) AS c12 FROM tf GROUP BY 1, 2
        ), ctx AS (
            SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1
        ), uni AS (
            SELECT w2, COUNT(*) AS c2
            FROM (SELECT unnest(t) AS w2 FROM toks) GROUP BY 1
        ), tot AS (
            SELECT SUM(c2) AS total FROM uni
        ), nll AS (
            SELECT b.w1, b.w2,
                   CAST(ROUND(-ln(
                       0.7 * (CAST(b.c12 AS DOUBLE) / CAST(x.c1 AS DOUBLE))
                       + 0.3 * (CAST(u.c2 AS DOUBLE)
                                / CAST(t.total AS DOUBLE))), 6)
                       AS DECIMAL(18,6)) AS nll
            FROM big b
            JOIN ctx x ON x.w1 = b.w1
            JOIN uni u ON u.w2 = b.w2
            CROSS JOIN tot t
        )
        SELECT doc_id,
               CAST(SUM(tf * nll) AS DOUBLE) / SUM(tf) AS mean_nll_bigram,
               CAST(SUM(tf) AS BIGINT) AS n_transitions
        FROM tf JOIN nll USING (w1, w2)
        GROUP BY doc_id
    """,
    # Interpolated Kneser–Ney trigram proxy (r12): mirrors
    # q_trigram_logprob term-for-term — D = 0.75 as a literal double
    # on both engines, every statistic derived from the trigram TYPE
    # inventory (mid's COUNT(*) per (w2,w3) IS the KN continuation
    # count |{w1}| because tri has one row per type), fixed-order
    # IEEE-double expression, -ln rounded to 6 decimals per type,
    # decimal-routed per-doc sum.
    "trigram_logprob": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), tf AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3,
                   COUNT(*) AS tf
            FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
            WHERE len(t) >= 3
            GROUP BY 1, 2, 3, 4
        ), tri AS (
            SELECT w1, w2, w3, SUM(tf) AS c123 FROM tf GROUP BY 1, 2, 3
        ), ctx12 AS (
            SELECT w1, w2, SUM(c123) AS c12, COUNT(*) AS t12
            FROM tri GROUP BY 1, 2
        ), mid AS (
            SELECT w2, w3, COUNT(*) AS n23 FROM tri GROUP BY 1, 2
        ), ctx2 AS (
            SELECT w2, SUM(n23) AS n2tot, COUNT(*) AS t2
            FROM mid GROUP BY 1
        ), cont AS (
            SELECT w3, COUNT(*) AS n_3 FROM mid GROUP BY 1
        ), tt AS (
            SELECT COUNT(*) AS ntt FROM mid
        ), nll AS (
            SELECT g.w1, g.w2, g.w3,
                   CAST(ROUND(-ln(
                       GREATEST(CAST(g.c123 AS DOUBLE) - 0.75, 0.0)
                           / CAST(x.c12 AS DOUBLE)
                       + ((0.75 * CAST(x.t12 AS DOUBLE))
                              / CAST(x.c12 AS DOUBLE))
                         * (GREATEST(CAST(m.n23 AS DOUBLE) - 0.75, 0.0)
                                / CAST(y.n2tot AS DOUBLE)
                            + ((0.75 * CAST(y.t2 AS DOUBLE))
                                   / CAST(y.n2tot AS DOUBLE))
                              * (CAST(c.n_3 AS DOUBLE)
                                     / CAST(t.ntt AS DOUBLE)))
                   ), 6) AS DECIMAL(18,6)) AS nll
            FROM tri g
            JOIN ctx12 x ON x.w1 = g.w1 AND x.w2 = g.w2
            JOIN mid m ON m.w2 = g.w2 AND m.w3 = g.w3
            JOIN ctx2 y ON y.w2 = g.w2
            JOIN cont c ON c.w3 = g.w3
            CROSS JOIN tt t
        )
        SELECT doc_id,
               CAST(SUM(tf * nll) AS DOUBLE) / SUM(tf) AS mean_nll_trigram,
               CAST(SUM(tf) AS BIGINT) AS n_transitions
        FROM tf JOIN nll USING (w1, w2, w3)
        GROUP BY doc_id
    """,
    # Perplexity curation gate: the trigram_logprob chain re-stated
    # (SYNC NOTE: any change to the KN convention — D, rounding,
    # split rule — must land in BOTH copies), then the naive global
    # rank (the Spark side's range-exchange rank is order-identical
    # by construction) and the exact 5·rank <= 4·n keep rule.
    "perplexity_gate": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), tf AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3,
                   COUNT(*) AS tf
            FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
            WHERE len(t) >= 3
            GROUP BY 1, 2, 3, 4
        ), tri AS (
            SELECT w1, w2, w3, SUM(tf) AS c123 FROM tf GROUP BY 1, 2, 3
        ), ctx12 AS (
            SELECT w1, w2, SUM(c123) AS c12, COUNT(*) AS t12
            FROM tri GROUP BY 1, 2
        ), mid AS (
            SELECT w2, w3, COUNT(*) AS n23 FROM tri GROUP BY 1, 2
        ), ctx2 AS (
            SELECT w2, SUM(n23) AS n2tot, COUNT(*) AS t2
            FROM mid GROUP BY 1
        ), cont AS (
            SELECT w3, COUNT(*) AS n_3 FROM mid GROUP BY 1
        ), tt AS (
            SELECT COUNT(*) AS ntt FROM mid
        ), nll AS (
            SELECT g.w1, g.w2, g.w3,
                   CAST(ROUND(-ln(
                       GREATEST(CAST(g.c123 AS DOUBLE) - 0.75, 0.0)
                           / CAST(x.c12 AS DOUBLE)
                       + ((0.75 * CAST(x.t12 AS DOUBLE))
                              / CAST(x.c12 AS DOUBLE))
                         * (GREATEST(CAST(m.n23 AS DOUBLE) - 0.75, 0.0)
                                / CAST(y.n2tot AS DOUBLE)
                            + ((0.75 * CAST(y.t2 AS DOUBLE))
                                   / CAST(y.n2tot AS DOUBLE))
                              * (CAST(c.n_3 AS DOUBLE)
                                     / CAST(t.ntt AS DOUBLE)))
                   ), 6) AS DECIMAL(18,6)) AS nll
            FROM tri g
            JOIN ctx12 x ON x.w1 = g.w1 AND x.w2 = g.w2
            JOIN mid m ON m.w2 = g.w2 AND m.w3 = g.w3
            JOIN ctx2 y ON y.w2 = g.w2
            JOIN cont c ON c.w3 = g.w3
            CROSS JOIN tt t
        ), scored AS (
            SELECT doc_id,
                   CAST(SUM(tf * nll) AS DOUBLE) / SUM(tf)
                       AS mean_nll_trigram,
                   CAST(SUM(tf) AS BIGINT) AS n_transitions
            FROM tf JOIN nll USING (w1, w2, w3)
            GROUP BY doc_id
        ), ranked AS (
            SELECT doc_id, mean_nll_trigram, n_transitions,
                   ROW_NUMBER() OVER (ORDER BY mean_nll_trigram, doc_id)
                       AS nll_rank
            FROM scored
        ), n AS (SELECT COUNT(*) AS n_scored FROM scored)
        SELECT doc_id, mean_nll_trigram, n_transitions,
               CAST(nll_rank AS BIGINT) AS nll_rank,
               nll_rank * 5 <= n_scored * 4 AS kept
        FROM ranked, n
    """,
    "source_dup_stats": """
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT fp) AS n_unique_exact,
               COUNT(DISTINCT prefix_fp) AS n_unique_prefix,
               COUNT(*) - COUNT(DISTINCT prefix_fp) AS n_prefix_dups,
               CAST(1.0 AS DOUBLE)
                 - CAST(COUNT(DISTINCT prefix_fp) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS prefix_dup_rate
        FROM (SELECT source, md5(lower(trim(text))) AS fp,
                     md5(substr(lower(trim(text)), 1, 60)) AS prefix_fp
              FROM documents)
        GROUP BY source
    """,
    # Mixture rebalancing: rates computed from the data with the exact
    # double-expression shape of the Spark side (shares cast to DOUBLE
    # up front — DuckDB decimal literals would otherwise route the
    # arithmetic through DECIMAL and drift from Spark's doubles).
    "mixture_rebalance": """
        WITH tok AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                        x -> x <> '')) AS BIGINT) AS n_tok,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                       % 10000 AS bucket_bp
            FROM documents
        ), tot AS (
            SELECT lang, SUM(n_tok) AS lang_tok,
                   CASE lang WHEN 'en' THEN CAST(0.30 AS DOUBLE)
                             WHEN 'de' THEN CAST(0.175 AS DOUBLE)
                             WHEN 'es' THEN CAST(0.175 AS DOUBLE)
                             WHEN 'fr' THEN CAST(0.175 AS DOUBLE)
                             WHEN 'zh' THEN CAST(0.175 AS DOUBLE)
                             ELSE CAST(0.0 AS DOUBLE) END AS share
            FROM tok GROUP BY lang
        ), sc AS (
            SELECT MIN(CAST(lang_tok AS DOUBLE) / share) AS scale FROM tot
        ), rates AS (
            SELECT lang,
                   CAST(floor(share * scale / CAST(lang_tok AS DOUBLE) * 10000)
                        AS BIGINT) AS keep_bp
            FROM tot, sc
        )
        SELECT doc_id, tok.lang AS lang, n_tok, bucket_bp, keep_bp
        FROM tok JOIN rates ON tok.lang = rates.lang
        WHERE bucket_bp < keep_bp
    """,
    "pii_redact": """
        SELECT event_id,
               'u_' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                   AS user_pseudo,
               regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted,
               event_type
        FROM events
    """,
    # Oracle is the NAIVE single-partition global window — the Spark
    # side must reproduce it exactly from the distributed
    # range+offset plan.
    "global_rank": """
        SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
               o_totalprice,
               CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS global_rn
        FROM orders
    """,
    "null_safe_join": f"""
        WITH dim(status_key, status_name) AS (
            VALUES ('O', 'open'), ('P', 'pending'), (NULL, 'finished')
        )
        SELECT status_name, COUNT(*) AS n_orders,
               {exact_sum_sql('o_totalprice', 2)} AS total_value
        FROM orders JOIN dim
          ON nullif(o_orderstatus, 'F') IS NOT DISTINCT FROM status_key
        GROUP BY status_name
    """,
    "revenue_share": f"""
        WITH rev AS (
            SELECT n_name,
                   {exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, revenue,
               round(revenue / {exact_sum_over_sql('revenue', '()', 4)}
                     * 100.0, 6) + 0.0 AS revenue_share_pct
        FROM rev
    """,
    # Record linkage: the oracle is the brute-force all-pairs join —
    # correct at test scale; the Spark side must produce the identical
    # pair set from deletion-neighborhood candidates.
    "fuzzy_name_match": """
        WITH w AS (SELECT DISTINCT c_name FROM customer)
        SELECT a.c_name AS name_a, b.c_name AS name_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
        FROM w a JOIN w b ON a.c_name < b.c_name
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    "outlier_events": f"""
        WITH s AS (
            SELECT event_type, COUNT(*) AS n,
                   {exact_sum_sql('value', 2)} AS s1,
                   {exact_sum_wide_sql('value * value', 4)} AS s2
            FROM events GROUP BY event_type
        )
        SELECT event_id, e.event_type, value,
               round((value - s1 / n)
                     / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) + 0.0 AS z
        FROM events e JOIN s ON e.event_type = s.event_type
        WHERE abs(value - s1 / n) > 3 * sqrt((s2 - s1 * s1 / n) / (n - 1))
    """,
    # --- analytics / profiling (round 2) -----------------------------------
    "rolling_active_users": """
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), mx AS (SELECT MAX(day) AS max_day FROM ud),
        c AS (
            SELECT user_id,
                   unnest(generate_series(
                       CAST(day AS TIMESTAMP),
                       CAST(least(day + 6, max_day) AS TIMESTAMP),
                       INTERVAL 1 DAY))::DATE AS report_day
            FROM ud, mx
        )
        SELECT CAST(report_day AS TIMESTAMP) AS report_day,
               COUNT(DISTINCT user_id) AS active_users_7d
        FROM c GROUP BY report_day
    """,
    "funnel": f"""
        WITH f AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_purchase
            FROM events
            WHERE event_type IN ('signup', 'click', 'purchase')
            GROUP BY user_id
        )
        SELECT COUNT(*) AS n_users,
               {_isum("CAST(t_signup IS NOT NULL AS BIGINT)")} AS n_signup,
               {_isum("CAST(t_signup < t_click AS BIGINT)")}
                   AS n_signup_then_click,
               {_isum("CAST(t_signup < t_click AND t_click < t_purchase"
                      " AS BIGINT)")} AS n_full_funnel
        FROM f
    """,
    "price_histogram": f"""
        SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS price_bucket,
               COUNT(*) AS n_orders,
               {exact_sum_sql('o_totalprice', 2)} AS total_value
        FROM orders
        GROUP BY 1
    """,
    "table_profile": """
        SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_orderkey) AS n_nulls,
               COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
               COUNT(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice) FROM orders
        UNION ALL
        SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
               COUNT(DISTINCT o_orderdate) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority) FROM orders
    """,
}

# session_window-native variant computes the same sessions.
ORACLES["event_session_native"] = ORACLES["event_session"]
# Streaming twins: complete-mode end-of-stream output equals the batch
# aggregate, so the oracle IS the batch oracle — aliased, not copied,
# so a future edit to the batch SQL can never desynchronize them.
ORACLES["stream_event_session"] = ORACLES["event_session"]
ORACLES["stream_event_tumbling"] = ORACLES["event_tumbling"]
# the kill-and-restart sequence must converge to the same batch truth
ORACLES["stream_event_recovery"] = ORACLES["event_tumbling"]
# ...and so must the foreachBatch idempotent-upsert table across its
# own restart: update-mode merges applied exactly once ⇒ batch truth
ORACLES["stream_foreach_upsert"] = ORACLES["event_tumbling"]

# Streaming dedup contract: the at-least-once re-delivery fixture lands
# every event twice; dropDuplicatesWithinWatermark must reduce it back
# to the events table itself — so the truth is just the table.
ORACLES["stream_dedup"] = """
    SELECT event_id, user_id, event_type, ts, value FROM events
"""

# Stream-stream interval join: end-of-stream inner-join output equals
# the batch range join (each qualifying pair emitted exactly once).
ORACLES["stream_interval_join"] = """
    SELECT l.user_id AS k, l.event_id AS left_id, r.event_id AS right_id,
           l.ts AS lts, r.ts AS rts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'view' AND r.event_type = 'purchase'
"""

# Arbitrary-state streaming profile: converged per-user state equals
# the batch aggregate. The Spark side accumulates integral cents in
# state and divides once at the end (correctly-rounded, = the exact
# decimal sum this oracle computes).
ORACLES["stream_profile"] = f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           {exact_sum_sql('value', 2)} AS sum_value,
           MAX(value) AS max_value, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
"""


# Keyword extraction composes the tfidf oracle with a per-doc top-3
# QUALIFY; ranking runs on the same rounded tfidf as the Spark side,
# with the token as tiebreak.
ORACLES["keyword_extract"] = f"""
    WITH base AS ({ORACLES['tfidf']})
    SELECT doc_id, token, tfidf,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, token
           ) AS BIGINT) AS kw_rank
    FROM base
    QUALIFY kw_rank <= 3
"""

# The end-to-end pipeline oracle reuses corpus_prep's gate+dedup CTE
# chain verbatim (split off before its final SELECT) and appends the
# chunk + deterministic-split tail.
_CORPUS_FRONT = ORACLES["corpus_prep"].rsplit("SELECT doc_id, n_copies", 1)[0]
ORACLES["corpus_pipeline"] = _CORPUS_FRONT + """
        , chunked AS (
            SELECT doc_id, lang_pred, round(quality_score, 6) AS quality_score,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ctoks
            FROM dedup
        ), chunks AS (
            SELECT doc_id, lang_pred, quality_score,
                   CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
                   CAST(least(40, len(ctoks) - start + 1) AS BIGINT)
                       AS n_chunk_tokens
            FROM (SELECT doc_id, lang_pred, quality_score, ctoks,
                         unnest(range(1, len(ctoks) + 1, 30)) AS start
                  FROM chunked WHERE len(ctoks) > 0)
        )
        SELECT doc_id, chunk_id, n_chunk_tokens, lang_pred, quality_score,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                          CAST(chunk_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM chunks
"""

# Documents → training sequences: the same gate+dedup front, then the
# decontaminate CTEs (flags corpus-wide), anti-join, and the
# chunk+pack tail from seq_pack — every stage a previously-verified
# oracle, chained.
ORACLES["corpus_to_sequences"] = _CORPUS_FRONT + """
        , dsh AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                       % 100 < 2 AS is_eval,
                   list_distinct(CASE WHEN len(t) >= 8 THEN
                        list_transform(generate_series(1, len(t) - 7),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  || ' ' || t[i+3] || ' ' || t[i+4]
                                  || ' ' || t[i+5] || ' ' || t[i+6]
                                  || ' ' || t[i+7])
                        ELSE t END) AS shingles
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS t
                  FROM documents)
        ), eval_sh AS (
            SELECT DISTINCT unnest(shingles) AS shingle
            FROM dsh WHERE is_eval
        ), flagged AS (
            SELECT DISTINCT d.doc_id
            FROM (SELECT doc_id, unnest(shingles) AS shingle
                  FROM dsh WHERE NOT is_eval) d
            JOIN eval_sh e ON d.shingle = e.shingle
        ), clean AS (
            SELECT doc_id, text FROM dedup
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                      % 100 >= 2
              AND doc_id NOT IN (SELECT doc_id FROM flagged)
        ), ctoks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM clean
        ), chunks AS (
            SELECT doc_id,
                   CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
                   CAST(least(40, len(toks) - start + 1) AS BIGINT)
                       AS n_chunk_tokens
            FROM (SELECT doc_id, toks,
                         unnest(range(1, len(toks) + 1, 30)) AS start
                  FROM ctoks WHERE len(toks) > 0)
        ), packed AS (
            SELECT doc_id, chunk_id, n_chunk_tokens,
                   COALESCE(SUM(n_chunk_tokens) OVER (
                       ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS st
            FROM chunks
        )
        SELECT doc_id, chunk_id, n_chunk_tokens,
               CAST(st // 512 AS BIGINT) AS seq_id,
               CAST(st % 512 AS BIGINT) AS seq_off
        FROM packed
"""


# --- Round 5: BM25 retrieval, triangle counting, training shards --------

# Single source of truth (the SOURCE_CAP pattern): the Spark operators
# import these, so the two engines can never diverge on the parameters.
BM25_K1 = 1.2
BM25_B = 0.75

# Count-Min sketch shape, shared with operators.textops (defined HERE
# per the repo convention: shared constants live in oracles.py BEFORE
# the first oracle builder that imports an operator module back —
# textops imports oracles mid-module for BM25, so an oracle builder
# importing textops for these would hit the circular-import trap).
CMS_W = 1 << 13
CMS_D = 4
CMS_TOPK = 20
BM25_TERMS = ("data", "join", "scan")
BM25_TOPK = 50
# Reciprocal-rank-fusion (hybrid_rrf): standard K=60 damping
# (Cormack et al. 2009); pools of BM25_TOPK per system, 10 fused out.
RRF_K = 60
RRF_OUT = 10
N_SHARDS = 32

# Literals are formatted from the SAME Python floats the Spark side uses
# and cast to DOUBLE (a bare 2.2 in DuckDB is DECIMAL, which would make
# tf*2.2 exact-decimal instead of IEEE and break bit-equality).
_BM25_TF = "\n".join(
    f", len(list_filter(string_split(text, ' '), x -> x = '{t}'))"
    f" AS tf_{t}" for t in BM25_TERMS
)
_BM25_DF = "\n".join(
    f", CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS df_{t}" for t in BM25_TERMS
)
_BM25_SCORE = " + ".join(
    f"(ln((n_docs - df_{t} + CAST(0.5 AS DOUBLE))"
    f" / (df_{t} + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))"
    f" * CAST(tf_{t} AS DOUBLE) * CAST({BM25_K1 + 1.0!r} AS DOUBLE)"
    f" / (CAST(tf_{t} AS DOUBLE) + CAST({BM25_K1!r} AS DOUBLE)"
    f" * (CAST({1.0 - BM25_B!r} AS DOUBLE)"
    f" + CAST({BM25_B!r} AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl)))"
    for t in BM25_TERMS
)
ORACLES["bm25_topk"] = f"""
    WITH base AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
               {_BM25_TF}
        FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
               {_BM25_DF}
        FROM base
    ), scored AS (
        SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in BM25_TERMS)},
               ROUND({_BM25_SCORE}, 6) + 0.0 AS score
        FROM base CROSS JOIN stats
    )
    SELECT * FROM scored WHERE score > 0
    ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
"""

# Orientation never changes the triangle count, so the oracle uses the
# simple id-ordered orientation (a<b<c ⇒ edges (a,b),(a,c),(b,c): join
# e1=(a,b), e2=(b,c), close with e3=(a,c)) while the Spark side orients
# by degree for skew resistance.
ORACLES["triangle_count"] = """
    WITH li AS (
        SELECT DISTINCT l_orderkey, CAST(l_partkey AS BIGINT) AS p
        FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.p < b.p
    ), nodes AS (
        SELECT u FROM edges UNION SELECT v FROM edges
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""

# DOULION derandomized: the md5-mod-4 edge sparsifier is a pure
# function of the edge, so the oracle replays sampling + triangle join
# exactly; est = 64·count is exact integer arithmetic.
ORACLES["triangle_count_sampled"] = """
    WITH li AS (
        SELECT DISTINCT l_orderkey, CAST(l_partkey AS BIGINT) AS p
        FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.p < b.p
    ), sedges AS (
        SELECT u, v FROM edges
        WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || ':'
                              || CAST(v AS VARCHAR)), 1, 6))::BIGINT
              % 4 = 0
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sedges)
               AS n_edges_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM sedges e1
            JOIN sedges e2 ON e2.u = e1.v
            JOIN sedges e3 ON e3.u = e1.u AND e3.v = e2.v)
               AS n_triangles_sampled,
           (SELECT CAST(64 * COUNT(*) AS BIGINT)
            FROM sedges e1
            JOIN sedges e2 ON e2.u = e1.v
            JOIN sedges e3 ON e3.u = e1.u AND e3.v = e2.v)
               AS est_triangles
"""

ORACLES["training_shards"] = f"""
    WITH base AS (
        SELECT doc_id, lang,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                   % {N_SHARDS} AS shard_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_toks
        FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           arg_min(doc_id, h) AS first_doc,
           MIN(h) AS first_hash
    FROM base GROUP BY shard_id ORDER BY shard_id
"""


# Compaction target size (chars of document text as the file-size
# proxy); single source of truth for engine + oracle (N_SHARDS pattern).
COMPACT_TARGET_CHARS = 64_000

# Salted join (round 5 wave 4): the oracle is the PLAIN unsalted join —
# the gate proves the salt/replicate/merge decomposition is lossless.
ORACLES["skew_join"] = f"""
    WITH dim AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_n,
               {exact_sum_sql('value', 2)} AS type_sum
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, d.type_n, d.type_sum
    FROM events e JOIN dim d USING (event_type)
"""

# Int8 quantization report: every float output is order-free (one
# division, element-wise max) and both engines round ties away from
# zero, so doubles agree bit-for-bit with no rounding convention.
ORACLES["embedding_quantize"] = """
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        FROM embeddings
    ), s AS (
        SELECT vec_id, x,
               list_max(list_transform(x, v -> abs(v))) AS absmax
        FROM base
    ), t AS (
        SELECT vec_id, x, 127.0 / absmax AS scale FROM s WHERE absmax > 0
    ), q AS (
        SELECT vec_id, x, scale,
               list_transform(x, v -> CAST(round(v * scale) AS INTEGER))
                   AS qv
        FROM t
    )
    SELECT vec_id,
           CAST(len(x) AS BIGINT) AS n_dims,
           scale,
           CAST(list_sum(list_transform(qv, q -> CAST(q AS BIGINT) * q))
                AS BIGINT) AS qnorm_sq,
           list_max(list_transform(range(1, len(x) + 1),
                    i -> abs(x[i] - CAST(qv[i] AS DOUBLE) / scale)))
               AS max_abs_err
    FROM q
"""

# Compaction planner: all-integer window prefix sum, same stable
# (source, doc_id) order in both engines.
ORACLES["compaction_plan"] = f"""
    WITH binned AS (
        SELECT source, doc_id, n_chars,
               CAST(floor(COALESCE(SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {COMPACT_TARGET_CHARS}) AS BIGINT) AS bin_id
        FROM documents
    )
    SELECT source, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM binned GROUP BY source, bin_id
"""


# --- wave 5 -----------------------------------------------------------

# Streaming flagship: end-of-stream complete-mode counts equal the
# batch word count — same oracle, aliased.
ORACLES["stream_wordcount"] = ORACLES["wordcount"]

# Stream-static enrichment equals the plain batch left join.
ORACLES["stream_enrich"] = """
    WITH dim AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_n
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, d.type_n
    FROM events e LEFT JOIN dim d USING (event_type)
"""

# Interchange round-trips (CSV / JSONL): write → schema-explicit read
# must preserve everything the aggregation can see — the oracle reads
# the ORIGINAL parquet, so any loss in the text round-trip (timestamp
# truncation, float re-parse drift) breaks the hash.
ORACLES["csv_roundtrip"] = f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           {exact_sum_sql('value', 2)} AS sum_value,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY event_type
"""
ORACLES["json_roundtrip"] = ORACLES["csv_roundtrip"]
ORACLES["orc_roundtrip"] = ORACLES["csv_roundtrip"]

# Bucketed join is pure LAYOUT: results must equal the plain join.
ORACLES["bucketed_join"] = f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {exact_sum_sql('o_totalprice', 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""

# Z-order clustering constants + the Morton-interleave expression
# generator — ONE generator feeds both engines verbatim.
ZORDER_BITS = 8
ZORDER_FILE_BITS = 6
Z_BASE_DATE = "1995-01-01"
Z_SPAN_DAYS = 2557


def zorder_interleave_expr(cb: str, db: str, bits: int) -> str:
    """SQL expression interleaving two `bits`-bit ints: cb's bit i →
    z-bit 2i+1, db's bit i → z-bit 2i. Plain integer shifts/masks —
    valid in both Spark SQL and DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(f"(((({cb}) >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((({db}) >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


_Z_EXPR = zorder_interleave_expr("cb", "db", ZORDER_BITS)
ORACLES["zorder_stats"] = f"""
    WITH mx AS (SELECT MAX(o_custkey) AS mx_cust FROM orders),
    buck AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(LEAST(floor(o_custkey * {1 << ZORDER_BITS}
                        / (mx_cust + 1)),
                    {(1 << ZORDER_BITS) - 1}) AS INTEGER) AS cb,
               CAST(LEAST(floor(datediff('day',
                        DATE '{Z_BASE_DATE}', o_orderdate)
                        * {1 << ZORDER_BITS} / {Z_SPAN_DAYS}),
                    {(1 << ZORDER_BITS) - 1}) AS INTEGER) AS db
        FROM orders, mx
    )
    SELECT CAST(({_Z_EXPR}) >> {2 * ZORDER_BITS - ZORDER_FILE_BITS}
               AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_custkey) AS min_cust,
           MAX(o_custkey) AS max_cust,
           MIN(o_orderdate) AS min_date,
           MAX(o_orderdate) AS max_date
    FROM buck GROUP BY 1
"""


# Round-5 wave-6: per-source total-variation divergence. Pure integer
# numerator (|c_st*N - c_t*N_s| sums stay < 2^53 through sf1) so the
# single double division is exact-operand IEEE — no rounding
# convention needed. The absent-token mass folds in algebraically:
# sum_{t not in s} c_t*N_s = (N - M_s)*N_s.
ORACLES["source_divergence"] = """
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS token
        FROM documents
    ), st AS (
        SELECT source, token, COUNT(*) AS cnt_s
        FROM toks GROUP BY source, token
    ), ct AS (
        SELECT token, CAST(SUM(cnt_s) AS BIGINT) AS cnt_c
        FROM st GROUP BY token
    ), tot AS (
        SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS n_s
        FROM st GROUP BY source
    ), n AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n_total FROM tot
    ), per AS (
        SELECT st.source,
               CAST(SUM(abs(st.cnt_s * n.n_total - ct.cnt_c * tot.n_s))
                   AS BIGINT) AS num_present,
               CAST(SUM(ct.cnt_c) AS BIGINT) AS m_s,
               tot.n_s AS n_s,
               n.n_total AS n_total
        FROM st
        JOIN ct USING (token)
        JOIN tot ON st.source = tot.source
        CROSS JOIN n
        GROUP BY st.source, tot.n_s, n.n_total
    )
    SELECT source,
           n_s AS n_tokens,
           CAST(num_present + (n_total - m_s) * n_s AS DOUBLE)
               / CAST(2 * n_total * n_s AS DOUBLE) AS tv_divergence
    FROM per
"""

# Round-5 wave-6: Markov transition matrix over per-user journeys.
# Probability = exact-BIGINT / exact-BIGINT in one double op.
ORACLES["event_transitions"] = """
    WITH pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events
    ), trans AS (
        SELECT prev_type, next_type, COUNT(*) AS n_transitions
        FROM pairs WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(n_transitions AS DOUBLE)
               / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
                      AS DOUBLE) AS prob
    FROM trans
"""

# Round-5 wave-6b: global 2-D skyline. The oracle is the naive
# single-window prefix-min form (distinct prices make every ROWS
# predecessor a strict-x predecessor); the Spark side computes the
# same thing via the range-exchange pattern. Cross-checked against
# the O(n^2) NOT-EXISTS dominance definition at sf0.01.
ORACLES["skyline"] = """
    WITH g AS (
        SELECT p_retailprice AS price, MIN(p_size) AS size_min
        FROM part GROUP BY p_retailprice
    ), w AS (
        SELECT price, size_min,
               MIN(size_min) OVER (ORDER BY price
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prefix_min
        FROM g
    )
    SELECT price, CAST(size_min AS BIGINT) AS size
    FROM w WHERE prefix_min IS NULL OR size_min < prefix_min
"""

# Round-5 wave-6b: positional phrase search. The queried bigram is a
# shared constant (BM25_TERMS precedent) so the Spark probe and the
# oracle can never diverge.
PHRASE = ("big", "order")

ORACLES["phrase_search"] = f"""
    WITH toks AS (
        SELECT doc_id, t.tok AS token, t.pos AS pos
        FROM documents,
             LATERAL (SELECT
                 unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS tok,
                 generate_subscripts(list_filter(string_split(text, ' '),
                                                 x -> x <> ''), 1) AS pos
             ) t
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.token = '{PHRASE[0]}' AND b.token = '{PHRASE[1]}'
    GROUP BY a.doc_id
"""

# Round-5 wave-6b: point-in-time join over the SCD2 dimension. The
# dim CTE is scd2_apply's oracle verbatim; each order matches exactly
# one version (validity intervals partition the timeline per key).
ORACLES["pit_join"] = f"""
    WITH cust AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
                   ::BIGINT % 10 = 0 AS changed
        FROM customer
    ), dim AS (
        SELECT c_custkey, c_mktsegment,
               TIMESTAMP '1990-01-01' AS valid_from,
               CASE WHEN changed THEN TIMESTAMP '1998-01-01' END AS valid_to,
               CAST(1 AS BIGINT) AS version
        FROM cust
        UNION ALL
        SELECT c_custkey, 'UPGRADED', TIMESTAMP '1998-01-01', NULL,
               CAST(2 AS BIGINT)
        FROM cust WHERE changed
    )
    SELECT d.c_mktsegment, d.version,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {exact_sum_sql('o.o_totalprice', 2)} AS revenue
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND d.valid_from <= CAST(o.o_orderdate AS TIMESTAMP)
     AND CAST(o.o_orderdate AS TIMESTAMP)
         < COALESCE(d.valid_to, TIMESTAMP '9999-01-01')
    GROUP BY d.c_mktsegment, d.version
"""

# Round-5 wave-6b: batched exact k-NN join (the topk_similarity
# convention: rank on the unrounded double, emit ROUND(sim, 4)).
# Constants live here as the single source of truth (BM25 precedent);
# operators/similarity.py imports them.
KNN_Q = 10

# PCA power-iteration constants — canonical home HERE (the KNN/BM25
# pattern): similarity.py imports these mid-module, so they must be
# defined before any oracle builder below imports similarity back.
PCA_ROUNDS = 8
PCA_SCALE = 1 << 20  # requantization scale, power of two
KNN_K = 3

ORACLES["knn_join"] = f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id < {KNN_Q}
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      q.qvec) AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= {KNN_Q}
    ), ranked AS (
        SELECT query_id, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, ROUND(sim, 4) + 0.0 AS sim,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {KNN_K}
"""

# --- round-6 wave-8 oracles -------------------------------------------------

# Snapshot-diff twin: same deterministic old/new derivation
# (maintenance.DIFF_*_MOD constants), FULL OUTER JOIN on the key,
# column-wise IS DISTINCT FROM comparison (never a row digest — doubles
# and timestamps hash engine-dependently; null-safe inequality is exact).
ORACLES["table_diff"] = """
    WITH oldsnap AS (SELECT * FROM orders),
    newsnap AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 101 = 0
    ), d AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
                      OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                      OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                      OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
                      OR (o.o_orderpriority
                          IS DISTINCT FROM n.o_orderpriority)
                    THEN 'changed' ELSE 'unchanged' END AS change_type
        FROM oldsnap o FULL OUTER JOIN newsnap n
          ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, change_type FROM d
    WHERE change_type <> 'unchanged'
    ORDER BY o_orderkey
"""

# Data-quality audit twin: COUNT(*) FILTER counts exactly the rows where
# the predicate is TRUE (NULL predicates fall out on both engines — the
# engine's WHEN cond THEN 1 OTHERWISE 0 has identical null semantics).
ORACLES["dq_report"] = """
    SELECT * FROM (
        SELECT 'li_quantity_range' AS check_name,
               COUNT(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50))
                   AS violations FROM lineitem
        UNION ALL
        SELECT 'li_price_nonpositive',
               COUNT(*) FILTER (WHERE l_extendedprice <= 0) FROM lineitem
        UNION ALL
        SELECT 'li_discount_range',
               COUNT(*) FILTER (WHERE NOT (l_discount BETWEEN 0.0 AND 0.5))
               FROM lineitem
        UNION ALL
        SELECT 'li_tax_range',
               COUNT(*) FILTER (WHERE NOT (l_tax BETWEEN 0.0 AND 0.5))
               FROM lineitem
        UNION ALL
        SELECT 'li_returnflag_null',
               COUNT(*) FILTER (WHERE l_returnflag IS NULL) FROM lineitem
        UNION ALL
        SELECT 'li_pk_duplicates',
               CAST(COUNT(*)
                    - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
               FROM lineitem
        UNION ALL
        SELECT 'ord_status_domain',
               COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
               FROM orders
        UNION ALL
        SELECT 'ord_price_nonpositive',
               COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
        UNION ALL
        SELECT 'ord_custkey_null',
               COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
        UNION ALL
        SELECT 'ev_ts_null',
               COUNT(*) FILTER (WHERE ts IS NULL) FROM events
        UNION ALL
        SELECT 'ev_props_null',
               COUNT(*) FILTER (WHERE props IS NULL) FROM events
        UNION ALL
        SELECT 'ev_value_negative',
               COUNT(*) FILTER (WHERE value < 0) FROM events
        UNION ALL
        SELECT 'li_fk_orphans', CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'li_ship_before_order',
               COUNT(*) FILTER (WHERE l_shipdate < o_orderdate)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ) ORDER BY check_name
"""

# Sweep-line twin: identical total order (t, delta, event_id) with ends
# (-1) before starts (+1) at equal instants — the half-open interval
# convention pinned on both engines.
ORACLES["max_concurrency"] = """
    WITH b AS (
        SELECT ts AS t, 1 AS delta, event_id FROM events
        UNION ALL
        SELECT ts + INTERVAL 60 MINUTE, -1, event_id FROM events
    ), r AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS open_now
        FROM b
    )
    SELECT date_trunc('day', t) AS day,
           CAST(MAX(open_now) AS BIGINT) AS max_concurrency
    FROM r WHERE delta = 1
    GROUP BY date_trunc('day', t)
    ORDER BY day
"""

# OHLC twin: open/close via the same (ts, event_id) unique order —
# selections, never arithmetic, so the doubles are bit-identical.
ORACLES["resample_ohlc"] = f"""
    WITH m AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_open,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                               date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC)
                   AS rn_close
        FROM events
    )
    SELECT event_type, hour,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           {exact_sum_sql('value', 2)} AS sum_value
    FROM m GROUP BY event_type, hour
    ORDER BY event_type, hour
"""

# BFS twin: hop-limited recursive CTE with UNION dedup on (node, hop)
# pairs; MIN(hop) over hops ≤ 4 equals the frontier BFS's min distance
# whenever that distance is ≤ 4 — exactly the engine's bound.
ORACLES["bfs_reach"] = """
    WITH RECURSIVE base AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
               CAST(l_suppkey AS BIGINT) + 1000000 AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), sym AS (
        SELECT cust AS src, supp AS dst FROM base
        UNION ALL
        SELECT supp AS src, cust AS dst FROM base
    ), srcs AS (
        SELECT DISTINCT cust AS node FROM base WHERE cust % 100 = 0
    ), r AS (
        SELECT node, CAST(0 AS BIGINT) AS hop FROM srcs
        UNION
        SELECT s.dst AS node, r.hop + 1 AS hop
        FROM r JOIN sym s ON s.src = r.node
        WHERE r.hop < 4
    )
    SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
    FROM r GROUP BY node ORDER BY node
"""

# Order-statistic twin: the k-th 1-based ascending cent value via
# ROW_NUMBER (ties between equal cents are rank-ambiguous but
# value-deterministic). Cents via the 2-decimal DECIMAL route — never
# ROUND on a double product (the .5-boundary engine divergence).
ORACLES["order_stat"] = f"""
    WITH c AS (
        SELECT CAST({money_dec_sql('l_extendedprice')} * 100 AS BIGINT)
                   AS cents
        FROM lineitem
    ), n AS (SELECT COUNT(*) AS n FROM c),
    ks AS (
        SELECT 'p50' AS stat_name, CAST((n + 1) // 2 AS BIGINT) AS k FROM n
        UNION ALL
        SELECT 'p90', CAST((9 * n + 9) // 10 AS BIGINT) FROM n
    ), ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c
    )
    SELECT ks.stat_name, ks.k, ranked.cents AS value_cents
    FROM ks JOIN ranked ON ranked.rn = ks.k
    ORDER BY stat_name
"""

# Last-touch attribution twin: identical (ts, kind, event_id) running
# order, last_value IGNORE NULLS for the asof touch pick, same 72 h
# window and 'direct' fallback.
ORACLES["attribution"] = f"""
    WITH e AS (
        SELECT user_id, ts, event_type, event_id, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
    ), t AS (
        SELECT *,
               last_value(CASE WHEN kind = 0 THEN
                   struct_pack(tts := ts, ttype := event_type) END
                   IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS touch
        FROM e
    ), p AS (
        SELECT COALESCE(CASE WHEN (touch).tts >= ts - INTERVAL 72 HOUR
                             THEN (touch).ttype END, 'direct')
                   AS touch_type,
               date_trunc('day', ts) AS day,
               value
        FROM t WHERE kind = 1
    )
    SELECT touch_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {exact_sum_sql('value', 2)} AS revenue
    FROM p GROUP BY touch_type, day
    ORDER BY touch_type, day
"""

# Cross-source shingle-overlap twin: same 3-gram shingles (short-doc
# fallback included), DISTINCT (source, shingle) sets, intersection
# self-join + per-source sizes.
ORACLES["source_overlap"] = """
    WITH toks AS (
        SELECT source,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT source, list_distinct(
            CASE WHEN len(t) >= 3
                 THEN list_transform(generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                 ELSE t END) AS shingles
        FROM toks
    ), ss AS (
        SELECT DISTINCT source, unnest(shingles) AS shingle FROM sh
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM ss GROUP BY source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM ss a JOIN ss b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           round(CAST(i.n_shared AS DOUBLE)
                 / (sa.n + sb.n - i.n_shared), 6) + 0.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY src_a, src_b
"""

# Windowed-funnel twin: identical strictly-preceding frames over the
# same (ts, event_id) order carry first-signup onto clicks and
# first-qualifying-click onto purchases.
ORACLES["funnel_windowed"] = """
    WITH e AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE event_type IN ('signup', 'click', 'purchase')
    ), w1 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS sg
        FROM e
    ), w2 AS (
        SELECT *, CASE WHEN event_type = 'click' AND sg IS NOT NULL
                        AND ts <= sg + INTERVAL 48 HOUR THEN ts END AS qc
        FROM w1
    ), w3 AS (
        SELECT *,
               MIN(qc) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS ck
        FROM w2
    ), w4 AS (
        SELECT *, CASE WHEN event_type = 'purchase' AND ck IS NOT NULL
                        AND ts <= ck + INTERVAL 48 HOUR THEN ts END AS qp
        FROM w3
    ), per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
               MIN(qc) AS t2,
               MIN(qp) AS t3
        FROM w4 GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_signup,
           CAST(COUNT(t2) AS BIGINT) AS n_signup_then_click,
           CAST(COUNT(t3) AS BIGINT) AS n_full_funnel
    FROM per_user
"""


# PageRank: the fixed damped iterations unrolled as chained CTEs (r07 —
# converts the engine's largest rows-only query to hash-verified).
# Exactness contract with operators/graph.py:pagerank: each round's
# contribution sum is quantized at the atto scale — FLOOR((pr/outdeg)
# * 1e18) is a pure IEEE-double pipeline (division, multiply by the
# exactly-representable 1e18, floor), bit-identical in any engine; the
# resulting integers sum EXACTLY (HUGEINT here, decimal(38,0) in
# Spark; per-node inflow < 1 keeps the scaled sum < 1e18); the
# integer→double reconstruction routes through VARCHAR (DuckDB's
# decimal→double cast double-rounds — the exact_sum_sql convention) and
# divides by 1e18 (one correctly-rounded op). The damping literals are
# embedded as the repr of the exact Python doubles the Spark side uses
# and parsed via string→double, which is correctly rounded — writing
# (1 - 0.85)/n inline would run in DuckDB's DECIMAL domain and land on
# a different double than Python's 0.15000000000000002.
def _pagerank_sql() -> str:
    from .operators.graph import DAMPING, N_ITERATIONS, SUPP_OFFSET

    base = repr(1.0 - DAMPING)
    damp = repr(DAMPING)
    sql = f"""
        WITH e0 AS (
            SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
                   CAST(l_suppkey AS BIGINT) + {SUPP_OFFSET} AS supp
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), sym AS (
            SELECT cust AS src, supp AS dst FROM e0
            UNION ALL
            SELECT supp AS src, cust AS dst FROM e0
        ), deg AS (
            SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src
        ), nn AS (
            SELECT COUNT(*) AS n FROM deg
        ), r0 AS (
            SELECT src AS node, CAST(1 AS DOUBLE) / nn.n AS pr
            FROM deg, nn
        )"""
    for k in range(1, N_ITERATIONS + 1):
        sql += f""", r{k} AS (
            SELECT i.node,
                   CAST('{base}' AS DOUBLE) / nn.n
                     + CAST('{damp}' AS DOUBLE) * i.inflow AS pr
            FROM (
                SELECT s.dst AS node,
                       CAST(CAST(SUM({quantized_sql('(r.pr / dg.outdeg)', '1e18')})
                                 AS VARCHAR) AS DOUBLE)
                         / 1e18 AS inflow
                FROM sym s
                JOIN deg dg ON dg.src = s.src
                JOIN r{k - 1} r ON r.node = s.src
                GROUP BY s.dst
            ) i, nn
        )"""
    sql += f"""
        SELECT node, ROUND(pr, 12) + 0.0 AS pagerank FROM r{N_ITERATIONS}
    """
    return sql


ORACLES["pagerank"] = _pagerank_sql()

# The reference-format text sink round-trip must reproduce the
# wordcount table exactly — the truth IS the wordcount oracle
# (aliased, not copied, like the streaming twins).
ORACLES["text_roundtrip"] = ORACLES["wordcount"]


# K-means cluster assignment: the IVF_ITERS Lloyd rounds unrolled as
# CTEs (r07). Exactness contract with operators/similarity.py
# build_ivf_index: the assignment distance is the QUANTIZED integer
# sum Σ floor((v−c)²·1e15) per (vector, cell) — each term is a pure
# IEEE-double pipeline yielding the identical integer in any engine,
# and integers sum exactly in any order — with a deterministic
# (d2q, cell) argmin; the centroid mean is
# float(Σ floor(v·1e15)) / 1e15 / n with the integer→double step
# routed through VARCHAR (DuckDB's decimal→double cast double-rounds;
# the exact_sum_sql convention). Init is the first IVF_K vectors by vec_id;
# empty cells keep their previous centroid (COALESCE over the prior
# round's table). The output is the LAST round's assignment, computed
# against the centroids from round ITERS−1 — exactly the Spark loop's
# final `assign`.
def _kmeans_ctes() -> str:
    """The shared Lloyd-fit CTE chain: WITH ... ending after
    a{ITERS} (the final assignment, computed against c{ITERS-1}) and
    c{ITERS} (the final centroid update — what build_ivf_index
    returns as the shipped centroids). kmeans_clusters selects from
    a{ITERS}; ann_ivf additionally probes c{ITERS}."""
    from .operators.similarity import IVF_ITERS, IVF_K

    sql = f"""
        WITH vv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), vflat AS (
            SELECT vec_id, CAST(i AS INT) AS pos, e[i] AS v
            FROM vv, UNNEST(generate_series(1, len(e))) AS u(i)
        ), first_k AS (
            SELECT vec_id, e,
                   ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
            FROM vv ORDER BY vec_id LIMIT {IVF_K}
        ), c0 AS (
            SELECT cell, CAST(i AS INT) AS pos, e[i] AS c
            FROM first_k, UNNEST(generate_series(1, len(e))) AS u(i)
        )"""
    for it in range(1, IVF_ITERS + 1):
        prev = f"c{it - 1}"
        sql += f""", d{it} AS (
            SELECT v.vec_id, c.cell,
                   SUM({quantized_sql('(v.v - c.c) * (v.v - c.c)', '1e15')}) AS d2q
            FROM vflat v JOIN {prev} c ON v.pos = c.pos
            GROUP BY v.vec_id, c.cell
        ), a{it} AS (
            SELECT vec_id, cell
            FROM (SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY d2q, cell) AS rn
                  FROM d{it})
            WHERE rn = 1
        ), u{it} AS (
            SELECT a.cell, v.pos,
                   ((CAST(CAST(SUM({quantized_sql('v.v', '1e15')})
                               AS VARCHAR) AS DOUBLE) / 1e15)
                    / COUNT(*)) AS c
            FROM a{it} a JOIN vflat v ON a.vec_id = v.vec_id
            GROUP BY a.cell, v.pos
        ), c{it} AS (
            SELECT p.cell, p.pos, COALESCE(u.c, p.c) AS c
            FROM {prev} p LEFT JOIN u{it} u
              ON u.cell = p.cell AND u.pos = p.pos
        )"""
    return sql


def _kmeans_sql() -> str:
    from .operators.similarity import IVF_ITERS

    return (
        _kmeans_ctes()
        + f"""
        SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a{IVF_ITERS}
    """
    )


ORACLES["kmeans_clusters"] = _kmeans_sql()


# ANN via IVF (r07 flip to hash-verified): the engine-exact Lloyd fit
# above makes the whole query path oracle-expressible — probe the
# IVF_NPROBE cells whose FINAL centroids (c{ITERS}) are nearest the
# query under the same quantized integer distance (deterministic
# (dq, cell) ranking, mirrored driver-side in q_ann_ivf), then
# exact-cosine re-rank only vectors whose FINAL assignment (a{ITERS})
# lands in a probed cell. Re-rank ordering/rounding follows the
# proven topk_similarity convention (order on the unrounded cosine,
# vec_id tiebreak, ROUND(.,4)+0.0 output).
def _ann_ivf_sql() -> str:
    from .operators.similarity import (
        IVF_ITERS,
        IVF_NPROBE,
        QUERY_VEC_ID,
        TOP_K,
    )

    return (
        _kmeans_ctes()
        + f""", qv AS (
            SELECT e AS qvec FROM vv WHERE vec_id = {QUERY_VEC_ID}
        ), qflat AS (
            SELECT CAST(i AS INT) AS pos, qvec[i] AS qx
            FROM qv, UNNEST(generate_series(1, len(qvec))) AS u(i)
        ), pd AS (
            SELECT c.cell,
                   SUM({quantized_sql('(q.qx - c.c) * (q.qx - c.c)', '1e15')}) AS dq
            FROM c{IVF_ITERS} c JOIN qflat q ON q.pos = c.pos
            GROUP BY c.cell
        ), probe AS (
            SELECT cell FROM (
                SELECT cell,
                       ROW_NUMBER() OVER (ORDER BY dq, cell) AS rn
                FROM pd
            ) WHERE rn <= {IVF_NPROBE}
        )
        SELECT vec_id, ROUND(sim, 4) + 0.0 AS sim FROM (
            SELECT v.vec_id,
                   list_cosine_similarity(v.e, q.qvec) AS sim
            FROM vv v
            JOIN a{IVF_ITERS} a ON a.vec_id = v.vec_id, qv q
            WHERE a.cell IN (SELECT cell FROM probe)
              AND v.vec_id <> {QUERY_VEC_ID}
        ) ORDER BY sim DESC, vec_id LIMIT {TOP_K}
    """
    )


ORACLES["ann_ivf"] = _ann_ivf_sql()


# SemDeDup decision table (r07 wave-2 flip to hash-verified): every
# stage is engine-exact — cells = quantized-argmin assignment of the
# planted contract vectors against the Lloyd fit's FINAL centroids
# (c{ITERS}, what build_ivf_index ships); candidates must agree on
# (cell, band, bucket) with bands from the integer sign-LSH replica
# (_SIGNLSH_BANDS_CTE); prune rule = exists a smaller-id candidate
# neighbor with ROUND(cos, 4) ≥ 0.95 (the engine's cosine
# convention). Output is the full (vec_id, cell, keep) table.
def _semantic_dedup_sql() -> str:
    from .operators.similarity import (
        IVF_ITERS,
        PLANT_MOD,
        PLANT_OFFSET,
        SEMDEDUP_MIN_BANDS,
    )

    return (
        _kmeans_ctes()
        + f""", vecs AS (
            SELECT vec_id, e AS v FROM vv
            UNION ALL
            SELECT vec_id + {PLANT_OFFSET},
                   list_concat([e[1] * 0.9], e[2:])
            FROM vv WHERE vec_id % {PLANT_MOD} = 0
        ), cvflat AS (
            SELECT vec_id, CAST(i AS INT) AS pos, v[i] AS x
            FROM vecs, UNNEST(generate_series(1, len(v))) AS u(i)
        ), ad AS (
            SELECT f.vec_id, c.cell,
                   SUM({quantized_sql('(f.x - c.c) * (f.x - c.c)', '1e15')}) AS d2q
            FROM cvflat f JOIN c{IVF_ITERS} c ON f.pos = c.pos
            GROUP BY f.vec_id, c.cell
        ), acell AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2q, cell) AS rn
                FROM ad
            ) WHERE rn = 1
        ), {_SIGNLSH_BANDS_CTE},
        bbc AS (
            SELECT s.vec_id, s.band, s.bucket, a.cell
            FROM sbands s JOIN acell a USING (vec_id)
        ), scand AS (
            -- r11: >= MIN_BANDS band agreements, the Spark side's rule
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bbc a
            JOIN bbc b ON a.cell = b.cell AND a.band = b.band
                      AND a.bucket = b.bucket AND a.vec_id < b.vec_id
            GROUP BY a.vec_id, b.vec_id
            HAVING COUNT(*) >= {SEMDEDUP_MIN_BANDS}
        ), pruned AS (
            SELECT DISTINCT c.vec_b AS vec_id
            FROM scand c
            JOIN vecs va ON va.vec_id = c.vec_a
            JOIN vecs vb ON vb.vec_id = c.vec_b
            WHERE ROUND(list_cosine_similarity(va.v, vb.v), 4) >= 0.95
        )
        SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
               (p.vec_id IS NULL) AS keep
        FROM acell a LEFT JOIN pruned p ON p.vec_id = a.vec_id
    """
    )


ORACLES["semantic_dedup"] = _semantic_dedup_sql()


# PQ ADC+R pipeline (r07 wave-2 flip to hash-verified). Exactness
# contract with operators/similarity.py build_pq_index / q_ann_pq:
# per-subspace Lloyd fit with quantized integer assignment distances
# (Σ floor((x−c)²·1e15), deterministic (d2q, cell) argmin) and
# correctly-rounded quantized centroid means; PQ_ITERS updates + ONE
# closing assignment pass against the SHIPPED books; integer LUT of
# the same quantized query↔centroid distances; ADC = exact int64 sum
# of PQ_M lookups; shortlist/top-k order on the exact integers with
# vec_id tiebreak; output distance reconstructed via the
# VARCHAR-routed int→double /1e15 convention, rounded to 6.
def _pq_fit_ctes() -> str:
    """The PQ per-subspace Lloyd-fit CTE chain, name-prefixed ``pq``
    so it composes with _kmeans_ctes (whose d/a/u names would
    otherwise collide) inside one statement. Expects ``vv(vec_id, e)``
    in scope; ends with ``pqa{PQ_ITERS+1}`` (the final codes table,
    computed against the shipped books) and ``pqb{PQ_ITERS}`` (the
    shipped codebooks). Shared by the ann_pq oracle and the
    ann_recall_report composition."""
    from .operators.similarity import PQ_DSUB, PQ_ITERS, PQ_K

    sql = f""", pqsflat AS (
            SELECT vec_id, CAST((i - 1) // {PQ_DSUB} AS INT) AS m,
                   CAST((i - 1) % {PQ_DSUB} AS INT) AS pos, e[i] AS x
            FROM vv, UNNEST(generate_series(1, len(e))) AS u(i)
        ), pqfirstk AS (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
            FROM vv ORDER BY vec_id LIMIT {PQ_K}
        ), pqb0 AS (
            SELECT s.m, f.cell, s.pos, s.x AS c
            FROM pqfirstk f JOIN pqsflat s USING (vec_id)
        )"""
    for it in range(1, PQ_ITERS + 2):
        prev = f"pqb{it - 1}"
        sql += f""", pqd{it} AS (
            SELECT s.vec_id, s.m, b.cell,
                   SUM({quantized_sql('(s.x - b.c) * (s.x - b.c)', '1e15')}) AS d2q
            FROM pqsflat s JOIN {prev} b ON b.m = s.m AND b.pos = s.pos
            GROUP BY s.vec_id, s.m, b.cell
        ), pqa{it} AS (
            SELECT vec_id, m, cell AS code FROM (
                SELECT vec_id, m, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                          ORDER BY d2q, cell) AS rn
                FROM pqd{it}
            ) WHERE rn = 1
        )"""
        if it <= PQ_ITERS:
            sql += f""", pqu{it} AS (
            SELECT a.m, a.code AS cell, s.pos,
                   ((CAST(CAST(SUM({quantized_sql('s.x', '1e15')})
                               AS VARCHAR) AS DOUBLE) / 1e15)
                    / COUNT(*)) AS c
            FROM pqa{it} a
            JOIN pqsflat s ON s.vec_id = a.vec_id AND s.m = a.m
            GROUP BY a.m, a.code, s.pos
        ), pqb{it} AS (
            SELECT p.m, p.cell, p.pos, COALESCE(u.c, p.c) AS c
            FROM {prev} p LEFT JOIN pqu{it} u
              ON u.m = p.m AND u.cell = p.cell AND u.pos = p.pos
        )"""
    return sql


def _ann_pq_sql() -> str:
    from .operators.similarity import (
        PQ_ITERS,
        PQ_SHORTLIST,
        QUERY_VEC_ID,
        TOP_K,
    )

    final_a = f"pqa{PQ_ITERS + 1}"
    final_b = f"pqb{PQ_ITERS}"
    sql = """
        WITH vv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        )"""
    sql += _pq_fit_ctes()
    sql += f""", qflat AS (
            SELECT m, pos, x AS qx FROM pqsflat
            WHERE vec_id = {QUERY_VEC_ID}
        ), lut AS (
            SELECT b.m, b.cell,
                   SUM({quantized_sql('(q.qx - b.c) * (q.qx - b.c)', '1e15')}) AS dq
            FROM {final_b} b JOIN qflat q ON q.m = b.m AND q.pos = b.pos
            GROUP BY b.m, b.cell
        ), adc AS (
            SELECT a.vec_id, SUM(l.dq) AS adcq
            FROM {final_a} a
            JOIN lut l ON l.m = a.m AND l.cell = a.code
            WHERE a.vec_id <> {QUERY_VEC_ID}
            GROUP BY a.vec_id
        ), short AS (
            SELECT vec_id FROM adc ORDER BY adcq, vec_id
            LIMIT {PQ_SHORTLIST}
        ), rer AS (
            SELECT s.vec_id,
                   SUM({quantized_sql('(f.x - q.qx) * (f.x - q.qx)', '1e15')}) AS l2q
            FROM short s
            JOIN pqsflat f USING (vec_id)
            JOIN qflat q ON q.m = f.m AND q.pos = f.pos
            GROUP BY s.vec_id
        )
        SELECT vec_id,
               ROUND(CAST(CAST(l2q AS VARCHAR) AS DOUBLE) / 1e15, 6)
                   + 0.0 AS l2_dist
        FROM rer ORDER BY l2q, vec_id LIMIT {TOP_K}
    """
    return sql


ORACLES["ann_pq"] = _ann_pq_sql()


# ANN recall contract (r11, VERDICT r10 ask #4): the batched form of
# the three ANN oracles above, composed in ONE statement — the
# kmeans fit chain (ann_ivf's), the sign-LSH signature replica
# (ann_lsh's), and the prefixed PQ fit chain (ann_pq's) — probed by
# the knn_join query batch (vec_id < KNN_Q), each index's top-K
# joined against the EXACT top-K under its own ranking metric
# (unrounded-double cosine for lsh/ivf, quantized-integer L2 for pq).
# Every building block is individually hash-verified; this row turns
# the family's recall QUALITY claim into a driver-verified artifact.
def _ann_recall_sql() -> str:
    from .operators.similarity import (
        IVF_ITERS,
        IVF_NPROBE,
        PQ_ITERS,
        PQ_SHORTLIST,
        TOP_K,
    )

    fa, fc = f"a{IVF_ITERS}", f"c{IVF_ITERS}"
    pa, pb = f"pqa{PQ_ITERS + 1}", f"pqb{PQ_ITERS}"

    def _topk(name: str, src: str, order: str) -> str:
        return f""", {name} AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY {order}) AS rn
                FROM {src}
            ) WHERE rn <= {TOP_K}
        )"""

    def _report(name: str, ann: str, truth: str) -> str:
        return f"""
            SELECT '{name}' AS index_name,
                   CAST(COUNT(DISTINCT t.query_id) AS BIGINT) AS n_queries,
                   CAST(COUNT(a.vec_id) AS BIGINT) AS recall_num,
                   CAST(COUNT(*) AS BIGINT) AS recall_den,
                   ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 4)
                       + 0.0 AS recall
            FROM {truth} t LEFT JOIN {ann} a
              ON a.query_id = t.query_id AND a.vec_id = t.vec_id"""

    return (
        _kmeans_ctes()
        + ", vecs AS (SELECT vec_id, e AS v FROM vv), "
        + _SIGNLSH_BANDS_CTE
        + _pq_fit_ctes()
        + f""", qs AS (
            SELECT vec_id AS query_id, e AS qvec FROM vv
            WHERE vec_id < {KNN_Q}
        ), scored AS (
            SELECT q.query_id, v.vec_id,
                   list_cosine_similarity(v.e, q.qvec) AS sim
            FROM vv v CROSS JOIN qs q WHERE v.vec_id >= {KNN_Q}
        ), qvflat AS (
            SELECT vec_id AS query_id, pos, v AS qx FROM vflat
            WHERE vec_id < {KNN_Q}
        ), l2s AS (
            SELECT q.query_id, f.vec_id,
                   SUM({quantized_sql('(f.v - q.qx) * (f.v - q.qx)', '1e15')}) AS l2q
            FROM vflat f JOIN qvflat q ON q.pos = f.pos
            WHERE f.vec_id >= {KNN_Q}
            GROUP BY q.query_id, f.vec_id
        )"""
        + _topk("exact_cos", "scored", "sim DESC, vec_id")
        + _topk("exact_l2", "l2s", "l2q, vec_id")
        + f""", lqb AS (
            SELECT vec_id AS query_id, band, bucket FROM sbands
            WHERE vec_id < {KNN_Q}
        ), lcand AS (
            SELECT DISTINCT q.query_id, s.vec_id, sc.sim
            FROM sbands s
            JOIN lqb q ON s.band = q.band AND s.bucket = q.bucket
            JOIN scored sc
              ON sc.query_id = q.query_id AND sc.vec_id = s.vec_id
            WHERE s.vec_id >= {KNN_Q}
        )"""
        + _topk("lsh_topk", "lcand", "sim DESC, vec_id")
        + f""", pdq AS (
            SELECT q.query_id, c.cell,
                   SUM({quantized_sql('(q.qx - c.c) * (q.qx - c.c)', '1e15')}) AS dq
            FROM {fc} c JOIN qvflat q ON q.pos = c.pos
            GROUP BY q.query_id, c.cell
        ), probes AS (
            SELECT query_id, cell FROM (
                SELECT query_id, cell,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY dq, cell) AS rn
                FROM pdq
            ) WHERE rn <= {IVF_NPROBE}
        ), icand AS (
            SELECT p.query_id, a.vec_id, sc.sim
            FROM {fa} a
            JOIN probes p ON a.cell = p.cell
            JOIN scored sc
              ON sc.query_id = p.query_id AND sc.vec_id = a.vec_id
            WHERE a.vec_id >= {KNN_Q}
        )"""
        + _topk("ivf_topk", "icand", "sim DESC, vec_id")
        + f""", pqf AS (
            SELECT vec_id AS query_id, m, pos, x AS qx FROM pqsflat
            WHERE vec_id < {KNN_Q}
        ), plut AS (
            SELECT q.query_id, b.m, b.cell,
                   SUM({quantized_sql('(q.qx - b.c) * (q.qx - b.c)', '1e15')}) AS dq
            FROM {pb} b JOIN pqf q ON q.m = b.m AND q.pos = b.pos
            GROUP BY q.query_id, b.m, b.cell
        ), padc AS (
            SELECT l.query_id, a.vec_id, SUM(l.dq) AS adcq
            FROM {pa} a JOIN plut l ON l.m = a.m AND l.cell = a.code
            WHERE a.vec_id >= {KNN_Q}
            GROUP BY l.query_id, a.vec_id
        )"""
        + f""", pshort AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adcq, vec_id) AS rn
                FROM padc
            ) WHERE rn <= {PQ_SHORTLIST}
        )"""
        + """, prer AS (
            SELECT s.query_id, s.vec_id, l.l2q
            FROM pshort s JOIN l2s l
              ON l.query_id = s.query_id AND l.vec_id = s.vec_id
        )"""
        + _topk("pq_topk", "prer", "l2q, vec_id")
        + f"""
        SELECT * FROM ({_report("ivf", "ivf_topk", "exact_cos")}
            UNION ALL {_report("lsh", "lsh_topk", "exact_cos")}
            UNION ALL {_report("pq", "pq_topk", "exact_l2")}
        ) ORDER BY index_name
    """
    )


ORACLES["ann_recall_report"] = _ann_recall_sql()


# Bounded Bellman-Ford SSSP (r07 wave 3): SSSP_ROUNDS relaxation
# rounds unrolled as chained CTEs — distances are exact BIGINTs
# (edge weight = MIN(l_quantity) per customer–supplier pair), so no
# float convention is needed anywhere.
def _sssp_sql() -> str:
    from .operators.graph import SSSP_ROUNDS, SUPP_OFFSET

    sql = f"""
        WITH ew AS (
            SELECT CAST(o_custkey AS BIGINT) AS cust,
                   CAST(l_suppkey AS BIGINT) + {SUPP_OFFSET} AS supp,
                   CAST(MIN(l_quantity) AS BIGINT) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        ), wsym AS (
            SELECT cust AS src, supp AS dst, w FROM ew
            UNION ALL
            SELECT supp, cust, w FROM ew
        ), s0 AS (
            SELECT MIN(cust) AS node, CAST(0 AS BIGINT) AS dist FROM ew
        )"""
    for k in range(1, SSSP_ROUNDS + 1):
        sql += f""", s{k} AS (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM s{k - 1}
                UNION ALL
                SELECT e.dst AS node, d.dist + e.w AS dist
                FROM s{k - 1} d JOIN wsym e ON e.src = d.node
            ) GROUP BY node
        )"""
    sql += f"""
        SELECT node, dist FROM s{SSSP_ROUNDS}
    """
    return sql


ORACLES["sssp"] = _sssp_sql()


def _ewma_sql() -> str:
    from .operators.events import EWMA_ALPHA

    a = repr(EWMA_ALPHA)
    b = repr(1.0 - EWMA_ALPHA)
    # list_reduce without an initial value seeds with the first
    # element — exactly the Spark fold's F.element_at(xs, 1) init; the
    # per-step expression tree (acc·(1−α) + x·α, both literals exactly
    # representable, parsed as DOUBLE) matches op-for-op, so the fold
    # is bit-identical with no rounding convention.
    return f"""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               list_reduce(
                   list(value ORDER BY ts, event_id),
                   (acc, x) -> acc * CAST('{b}' AS DOUBLE)
                               + x * CAST('{a}' AS DOUBLE)) AS ewma
        FROM events GROUP BY user_id
    """


ORACLES["ewma_smooth"] = _ewma_sql()

# The streaming EWMA's converged state must equal the batch fold —
# the truth IS the batch oracle (aliased, the text_roundtrip pattern).
ORACLES["stream_ewma"] = ORACLES["ewma_smooth"]


# Simplified (centroid-based) silhouette over the engine-exact Lloyd
# fit: a/b are quantized integer distances to the SHIPPED centroids
# (c{ITERS}), own cell from the final assignment (a{ITERS}); the
# ratio is two correctly-rounded BIGINT→DOUBLE casts + one division;
# the per-cell mean uses the quantized-mean VARCHAR-routed convention.
def _cluster_silhouette_sql() -> str:
    from .operators.similarity import IVF_ITERS

    return (
        _kmeans_ctes()
        + f""", sd AS (
            SELECT a.vec_id, a.cell, c.cell AS ocell,
                   CAST(SUM({quantized_sql('(v.v - c.c) * (v.v - c.c)', '1e15')})
                        AS BIGINT) AS d2q
            FROM a{IVF_ITERS} a
            JOIN vflat v ON v.vec_id = a.vec_id
            JOIN c{IVF_ITERS} c ON c.pos = v.pos
            GROUP BY a.vec_id, a.cell, c.cell
        ), ab AS (
            SELECT vec_id, cell,
                   MIN(CASE WHEN ocell = cell THEN d2q END) AS a,
                   MIN(CASE WHEN ocell <> cell THEN d2q END) AS b
            FROM sd GROUP BY vec_id, cell
        ), sil AS (
            SELECT cell,
                   CASE WHEN greatest(a, b) = 0 THEN 0.0
                        ELSE CAST(b - a AS DOUBLE)
                             / CAST(greatest(a, b) AS DOUBLE)
                   END AS sil
            FROM ab
        )
        SELECT CAST(cell AS INT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM({quantized_sql('sil', '1e15')})
                         AS VARCHAR) AS DOUBLE) / 1e15 / COUNT(*)
                   AS mean_sil
        FROM sil GROUP BY cell
    """
    )


ORACLES["cluster_silhouette"] = _cluster_silhouette_sql()


# --- round-7 wave 4: sufficient-stats OLS, exact outlier gate, blocked
# linkage, real-pixel perceptual hash ---------------------------------


# Grouped OLS via exact integer sufficient statistics: x/y routed to
# cents (DECIMAL(18,2)·100 → BIGINT), the five sums exact (HUGEINT),
# the normal-equation combination exact integer; slope/intercept/r2 are
# the only doubles, computed with the identical operation sequence as
# the Spark side (correctly-rounded HUGEINT→DOUBLE via VARCHAR, then
# one division each).
ORACLES["linreg_ols"] = f"""
    WITH li AS (
        SELECT l_returnflag, l_linestatus,
               {fixed_long_sql('l_quantity', 2)} AS xi,
               {fixed_long_sql('l_extendedprice', 2)} AS yi
        FROM lineitem
    ), st AS (
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(xi) AS sx, SUM(yi) AS sy,
               SUM(CAST(xi AS HUGEINT) * xi) AS sxx,
               SUM(CAST(xi AS HUGEINT) * yi) AS sxy,
               SUM(CAST(yi AS HUGEINT) * yi) AS syy
        FROM li GROUP BY l_returnflag, l_linestatus
    ), comb AS (
        SELECT l_returnflag, l_linestatus, n, sx, sy,
               {comoment_sql('n', 'sxy', 'sx', 'sy')} AS num,
               {comoment_sql('n', 'sxx', 'sx', 'sx')} AS den,
               {comoment_sql('n', 'syy', 'sy', 'sy')} AS ssy
        FROM st
    )
    SELECT l_returnflag, l_linestatus, n AS n_rows,
           CAST(CAST(num AS VARCHAR) AS DOUBLE)
               / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - (CAST(CAST(num AS VARCHAR) AS DOUBLE)
               / CAST(CAST(den AS VARCHAR) AS DOUBLE))
              * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * 100.0) AS intercept,
           (CAST(CAST(num AS VARCHAR) AS DOUBLE)
            * CAST(CAST(num AS VARCHAR) AS DOUBLE))
               / (CAST(CAST(den AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(ssy AS VARCHAR) AS DOUBLE)) AS r2
    FROM comb
"""


# 3-sigma outlier census with the division-free integer comparison
# (n·x − S)² > 9(n·Q − S²) — every product exact in HUGEINT, so the
# per-row flag is accumulation-order- and engine-independent.
ORACLES["zscore_outliers"] = f"""
    WITH ev AS (
        SELECT event_type,
               {fixed_long_sql('value', 4)} AS vi
        FROM events
    ), st AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(vi) AS s,
               SUM(CAST(vi AS HUGEINT) * vi) AS q
        FROM ev GROUP BY event_type
    ), flags AS (
        SELECT ev.event_type, st.n,
               CASE WHEN (CAST(st.n AS HUGEINT) * ev.vi - st.s)
                         * (CAST(st.n AS HUGEINT) * ev.vi - st.s)
                       > 9 * ({comoment_sql('st.n', 'st.q', 'st.s', 'st.s')})
                    THEN 1 ELSE 0 END AS is_outlier
        FROM ev JOIN st USING (event_type)
    )
    SELECT event_type,
           MIN(n) AS n_events,
           CAST(SUM(is_outlier) AS BIGINT) AS n_outliers,
           CAST(SUM(is_outlier) AS DOUBLE) / CAST(MIN(n) AS DOUBLE)
               AS outlier_share
    FROM flags GROUP BY event_type
"""


# Blocked fuzzy linkage: pigeonhole blocking (first-5 OR last-4 exact)
# is complete for same-length edit distance ≤ 1 (a single edit that
# preserves length is one substitution), then the exact levenshtein
# verify — the identical candidate set + verify the Spark plan runs.
ORACLES["entity_match"] = """
    WITH c AS (
        SELECT c_custkey, substr(c_name, 10, 9) AS c_sfx FROM customer
    ), s AS (
        SELECT s_suppkey, substr(s_name, 10, 9) AS s_sfx FROM supplier
    ), cand AS (
        SELECT c_custkey, c_sfx, s_suppkey, s_sfx
        FROM c JOIN s ON substr(c_sfx, 1, 5) = substr(s_sfx, 1, 5)
        UNION
        SELECT c_custkey, c_sfx, s_suppkey, s_sfx
        FROM c JOIN s ON substr(c_sfx, 6, 4) = substr(s_sfx, 6, 4)
    )
    SELECT c_custkey, s_suppkey,
           CAST(levenshtein(c_sfx, s_sfx) AS INT) AS edit_dist
    FROM cand WHERE levenshtein(c_sfx, s_sfx) <= 1
"""


# Real-pixel perceptual hash: the oracle recomputes the md5-derived
# raster ARITHMETICALLY (hex-substr → ints) and the identical integer
# aHash (bit = px·64 > Σpx), never touching PNG bytes — agreement with
# the Spark side proves the full encode → zlib/filter → decode →
# unfilter → hash pipeline round-trips the real format exactly.
def _image_ahash_sql() -> str:
    from .operators.multimodal import IMG_GROUPS

    return f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(range(0, 8), r ->
                       md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                           || ':' || CAST(r AS VARCHAR))) AS hs
            FROM documents
        ), pxt AS (
            SELECT doc_id,
                   flatten(list_transform(hs, h ->
                     list_transform(range(0, 8), c ->
                       (strpos('0123456789abcdef', h[2*c+1]) - 1) * 16
                       + strpos('0123456789abcdef', h[2*c+2]) - 1))) AS px
            FROM hs
        ), tot AS (
            SELECT doc_id, px, list_aggregate(px, 'sum') AS total FROM pxt
        ), ah AS (
            SELECT doc_id,
                   array_to_string(list_transform(range(0, 16), k ->
                     substr('0123456789abcdef',
                       (CASE WHEN px[4*k+1]*64 > total THEN 8 ELSE 0 END
                      + CASE WHEN px[4*k+2]*64 > total THEN 4 ELSE 0 END
                      + CASE WHEN px[4*k+3]*64 > total THEN 2 ELSE 0 END
                      + CASE WHEN px[4*k+4]*64 > total THEN 1 ELSE 0 END)
                       + 1, 1)), '') AS ahash
            FROM tot
        )
        SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_images,
               MIN(doc_id) AS min_media_id,
               MAX(doc_id) AS max_media_id
        FROM ah GROUP BY ahash
    """


ORACLES["image_ahash"] = _image_ahash_sql()


# REAL JPEG pixel path: the oracle replays the LOSSY decode in closed
# form — planted blocks are constant, so the only surviving DCT
# coefficient is DC = 8·(v−128); quantization (odd divisor 17, half
# away from zero — halves can't occur: 16·(v−128) is even, 17·odd is
# odd) and the fixed-point IDCT descale ((dc·K0² + 2^29) >> 30, K0 =
# round(2^14/√2) = 11585) are exact integer maps. The +256·2^30 offset
# keeps the dividend positive so DuckDB's integer division matches
# Python's floor shift. Agreement with the Spark side proves
# DCT → quant → Huffman encode → independent Huffman decode →
# dequant → IDCT round-trips the real format exactly.
def _image_jpeg_ahash_sql() -> str:
    from .operators.multimodal import IMG_GROUPS, JPEG_QTAB, _IDCT_K

    q0 = JPEG_QTAB[0]  # 17
    k0sq = _IDCT_K[0][0] ** 2  # 11585² = 134212225
    return f"""
        WITH bv AS (
            SELECT doc_id,
                   list_transform(range(0, 4), b ->
                     (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                               || ':j:' || CAST(b // 2 AS VARCHAR) || ':'
                               || CAST(b % 2 AS VARCHAR)), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                               || ':j:' || CAST(b // 2 AS VARCHAR) || ':'
                               || CAST(b % 2 AS VARCHAR)), 2, 1)) - 1
                   ) AS v
            FROM documents
        ), gr AS (
            SELECT doc_id,
              list_transform(v, vv ->
                LEAST(255, GREATEST(0,
                  (CAST({q0} * (CASE WHEN vv >= 128
                          THEN (16*(vv-128) + {q0}) // {2 * q0}
                          ELSE -((16*(128-vv) + {q0}) // {2 * q0}) END)
                        AS BIGINT)
                   * {k0sq} + {1 << 29} + {256 * (1 << 30)}
                  ) // {1 << 30} - 256 + 128
                ))) AS g
            FROM bv
        ), pld AS (
            SELECT doc_id,
                   list_transform(range(0, 64), k ->
                     4 * g[((k // 8) // 4) * 2 + (k % 8) // 4 + 1]) AS pp
            FROM gr
        ), tot AS (
            SELECT doc_id, pp, list_aggregate(pp, 'sum') AS total FROM pld
        ), ah AS (
            SELECT doc_id,
                   array_to_string(list_transform(range(0, 16), k ->
                     substr('0123456789abcdef',
                       (CASE WHEN pp[4*k+1]*64 > total THEN 8 ELSE 0 END
                      + CASE WHEN pp[4*k+2]*64 > total THEN 4 ELSE 0 END
                      + CASE WHEN pp[4*k+3]*64 > total THEN 2 ELSE 0 END
                      + CASE WHEN pp[4*k+4]*64 > total THEN 1 ELSE 0 END)
                       + 1, 1)), '') AS ahash
            FROM tot
        )
        SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_images,
               MIN(doc_id) AS min_media_id,
               MAX(doc_id) AS max_media_id
        FROM ah GROUP BY ahash
    """


ORACLES["image_jpeg_ahash"] = _image_jpeg_ahash_sql()


# --- round-7 wave 5: one-pass correlation matrix, bloom semi join,
# streaming sliding windows ------------------------------------------


# One-pass Pearson correlation matrix: 15 exact sufficient statistics
# (HUGEINT), exact integer combinations, then the identical double
# sequence per pair (num / sqrt(denx·deny), correctly-rounded casts).
_CORR_VARS = [
    ("q", "quantity"), ("p", "extendedprice"), ("dd", "discount"), ("t", "tax")
]
_CORR_SS = ",\n".join(
    f"SUM(CAST({a} AS HUGEINT) * {b}) AS ss_{a}_{b}"
    for i, (a, _) in enumerate(_CORR_VARS) for b, _ in _CORR_VARS[i:]
)
_CORR_PAIRS = "\nUNION ALL ".join(
    f"SELECT '{x}', '{y}', {comoment_sql('n', f'ss_{a}_{b}', f's_{a}', f's_{b}')},"
    f" {comoment_sql('n', f'ss_{a}_{a}', f's_{a}', f's_{a}')},"
    f" {comoment_sql('n', f'ss_{b}_{b}', f's_{b}', f's_{b}')} FROM st"
    for i, (a, x) in enumerate(_CORR_VARS) for b, y in _CORR_VARS[i + 1:]
)
ORACLES["corr_matrix"] = f"""
    WITH li AS (
        SELECT {fixed_long_sql('l_quantity', 2)} AS q,
               {fixed_long_sql('l_extendedprice', 2)} AS p,
               {rate_long_sql('l_discount')} AS dd,
               {rate_long_sql('l_tax')} AS t
        FROM lineitem
    ), st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(q) AS s_q, SUM(p) AS s_p, SUM(dd) AS s_dd, SUM(t) AS s_t,
               {_CORR_SS}
        FROM li
    ), pairs(var_x, var_y, num, denx, deny) AS (
        {_CORR_PAIRS}
    )
    SELECT var_x, var_y,
           CAST(CAST(num AS VARCHAR) AS DOUBLE)
               / sqrt(CAST(CAST(denx AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(deny AS VARCHAR) AS DOUBLE)) AS corr_xy,
           (SELECT CAST(n AS BIGINT) FROM st) AS n_rows
    FROM pairs
"""


# Bloom-prefiltered semi join: the oracle REPLAYS the filter — same
# md5-derived bit positions over the build keys, same k-probe pass
# test per probe row — so a hash match verifies every bloom bit and
# every probe decision, plus the exact-join match/false-positive
# split.
def _bloom_semi_join_sql() -> str:
    from .operators.relational import BLOOM_K, BLOOM_M

    return f"""
        WITH sel AS (
            SELECT o_orderkey FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ), bits AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                       || ':' || i), 1, 15))::BIGINT
                       % {BLOOM_M} AS pos
            FROM sel, range(0, {BLOOM_K}) r(i)
        ), probe AS (
            SELECT l_orderkey, l_returnflag,
                   ROW_NUMBER() OVER () AS rid
            FROM lineitem
        ), ppos AS (
            SELECT rid, l_orderkey, l_returnflag,
                   ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                                       || ':' || i), 1, 15))::BIGINT
                       % {BLOOM_M} AS pos
            FROM probe, range(0, {BLOOM_K}) r(i)
        ), passed AS (
            SELECT p.rid, MIN(p.l_orderkey) AS l_orderkey,
                   MIN(p.l_returnflag) AS l_returnflag,
                   CASE WHEN COUNT(b.pos) = {BLOOM_K} THEN 1 ELSE 0 END
                       AS bloom_pass
            FROM ppos p LEFT JOIN bits b ON b.pos = p.pos
            GROUP BY p.rid
        ), flagged AS (
            SELECT l_returnflag, bloom_pass,
                   CASE WHEN l_orderkey IN (SELECT o_orderkey FROM sel)
                        THEN 1 ELSE 0 END AS is_match
            FROM passed
        )
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_probe,
               CAST(SUM(bloom_pass) AS BIGINT) AS n_bloom_pass,
               CAST(SUM(is_match) AS BIGINT) AS n_match,
               CAST(SUM(bloom_pass) - SUM(is_match) AS BIGINT)
                   AS n_false_pos
        FROM flagged GROUP BY l_returnflag
    """


ORACLES["bloom_semi_join"] = _bloom_semi_join_sql()

# The streaming sliding-window aggregation's converged complete-mode
# state must equal the batch sliding result — the truth IS the batch
# oracle (aliased, the stream_event_tumbling pattern).
ORACLES["stream_sliding"] = ORACLES["event_sliding"]


# --- round-7 wave 6: time-weighted average, CUSUM drift, real-pixel
# resize, packing-length histogram --------------------------------------


# TWAP: exact integer microsecond intervals × exact 1e-4 value units;
# per-term products route through HUGEINT, the area sum is exact, the
# final division is one double op on correctly-rounded casts.
ORACLES["twap"] = f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS t_us, event_id,
               {fixed_long_sql('value', 4)} AS vi
        FROM events
    ), seg AS (
        SELECT user_id, t_us, vi,
               lead(t_us) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) - t_us AS dt_us
        FROM ev
    ), agg AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(t_us) - MIN(t_us) AS span_us,
               SUM(CAST(dt_us AS HUGEINT) * vi) AS area
        FROM seg GROUP BY user_id
    )
    SELECT user_id, n_events, span_us,
           CAST(CAST(area AS VARCHAR) AS DOUBLE)
               / (CAST(span_us AS DOUBLE) * 10000.0) AS twap
    FROM agg WHERE span_us > 0
"""


# CUSUM drift via window algebra (prefix sum → running min of its
# 0-floor over preceding rows → max difference), deviations n-scaled
# so every intermediate is an exact HUGEINT; the Spark twin stages the
# same two windows over one sort.
ORACLES["cusum_drift"] = f"""
    WITH ev AS (
        SELECT event_type, ts, event_id,
               {fixed_long_sql('value', 4)} AS vi
        FROM events
    ), st AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(vi) AS s
        FROM ev GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, e.ts, e.event_id, st.n,
               CAST(st.n AS HUGEINT) * e.vi - st.s AS d
        FROM ev e JOIN st USING (event_type)
    ), pre AS (
        SELECT event_type, ts, event_id, n,
               SUM(d) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS p
        FROM dev
    ), cu AS (
        SELECT event_type, n, p,
               MIN(LEAST(p, CAST(0 AS HUGEINT))) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pmin_prev
        FROM pre
    )
    SELECT event_type, MIN(n) AS n_events,
           CAST(CAST(MAX(p - LEAST(COALESCE(pmin_prev, 0), 0))
                     AS VARCHAR) AS DOUBLE)
               / (CAST(MIN(n) AS DOUBLE) * 10000.0) AS max_cusum
    FROM cu GROUP BY event_type
"""

# The streaming TWAP/CUSUM twins are verified against the SAME batch
# SQL (the stream_ewma convention): staged time-ordered slices + exact
# integer state make the incremental fold equal the batch plan
# bit-for-bit, so one oracle serves both rows.
ORACLES["stream_twap"] = ORACLES["twap"]
ORACLES["stream_cusum"] = ORACLES["cusum_drift"]


# Real-pixel resize: recompute the md5-derived raster arithmetically,
# apply the identical integer 2×2 mean-pool, emit the same 32-hex-char
# pooled grid — agreement proves the decode feeds pixel math exactly.
def _image_resize_sql() -> str:
    from .operators.multimodal import IMG_GROUPS

    return f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(range(0, 8), r ->
                       md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                           || ':' || CAST(r AS VARCHAR))) AS hs
            FROM documents
        ), pxt AS (
            SELECT doc_id,
                   flatten(list_transform(hs, h ->
                     list_transform(range(0, 8), c ->
                       (strpos('0123456789abcdef', h[2*c+1]) - 1) * 16
                       + strpos('0123456789abcdef', h[2*c+2]) - 1))) AS px
            FROM hs
        )
        SELECT doc_id AS media_id,
               array_to_string(list_transform(range(0, 16), k ->
                 printf('%02x',
                   (px[(k // 4) * 16 + (k % 4) * 2 + 1]
                    + px[(k // 4) * 16 + (k % 4) * 2 + 2]
                    + px[(k // 4) * 16 + (k % 4) * 2 + 9]
                    + px[(k // 4) * 16 + (k % 4) * 2 + 10]) // 4)), '')
                   AS pooled_hex,
               CAST(list_aggregate(px, 'sum') // 64 AS BIGINT)
                   AS brightness
        FROM pxt
    """


ORACLES["image_resize"] = _image_resize_sql()


# Packing-length histogram: integer-exact bucket counts, cumulative
# shares as single double divisions of exact longs.
ORACLES["seq_length_histogram"] = """
    WITH lens AS (
        SELECT CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), hist AS (
        SELECT n_tokens // 16 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM lens GROUP BY 1
    )
    SELECT bucket, (bucket + 1) * 16 AS cutoff_tokens, n_docs,
           sum_tokens,
           CAST(SUM(n_docs) OVER (ORDER BY bucket) AS DOUBLE)
               / CAST(SUM(n_docs) OVER () AS DOUBLE) AS cum_doc_share,
           CAST(SUM(sum_tokens) OVER (ORDER BY bucket) AS DOUBLE)
               / CAST(SUM(sum_tokens) OVER () AS DOUBLE)
               AS cum_token_share
    FROM hist
"""


# --- round-7 wave 7: dataset splits, contrastive negatives, freshness
# decay ----------------------------------------------------------------


# Exact-ratio stratified split: md5-ranked within stratum, integer cut
# comparisons (r·10 ≤ n·8 / n·9) — no double ratios anywhere.
ORACLES["stratified_split"] = """
    WITH ranked AS (
        SELECT lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS r,
               COUNT(*) OVER (PARTITION BY lang, source) AS n
        FROM documents
    )
    SELECT lang, source,
           CASE WHEN r * 10 <= n * 8 THEN 'train'
                WHEN r * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ranked GROUP BY 1, 2, 3
"""


# Deterministic ring negatives: same md5 ranking, same 1-based ring
# arithmetic, same equi-join on (lang, target rank). The constants
# live HERE (the BM25_* pattern): textops imports them, so the oracle
# never imports back into operators (circular-import safety).
NEG_K = 4  # negatives per anchor
NEG_STEP = 7919  # prime stride through the stratum ring


def _negative_sampling_sql() -> str:
    return f"""
        WITH ranked AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS r,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM documents
        ), probes AS (
            SELECT a.doc_id AS anchor_id, a.lang, i.i,
                   (a.r - 1 + i.i * {NEG_STEP}) % a.n + 1 AS tr
            FROM ranked a, range(1, {NEG_K} + 1) i(i)
        )
        SELECT p.anchor_id, CAST(p.i AS INT) AS i, b.doc_id AS neg_id
        FROM probes p
        JOIN ranked b ON b.lang = p.lang AND b.r = p.tr
        WHERE b.doc_id <> p.anchor_id
    """


ORACLES["negative_sampling"] = _negative_sampling_sql()


# Freshness decay with exact dyadic weights 2^(30−age): integer count
# mass, HUGEINT value mass, single double divisions at the end.
ORACLES["decay_agg"] = f"""
    WITH mx AS (
        SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events
    ), aged AS (
        SELECT event_type,
               {fixed_long_sql('value', 4)} AS vi,
               (CAST(1 AS BIGINT) << (30 - LEAST(
                   date_diff('day', CAST(ts AS DATE), mx.max_day), 30)))
                   AS w
        FROM events, mx
    ), agg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(w) AS wsum,
               SUM(CAST(vi AS HUGEINT) * w) AS wvsum
        FROM aged GROUP BY event_type
    )
    SELECT event_type, n_events,
           CAST(CAST(wsum AS VARCHAR) AS DOUBLE) / 1073741824.0
               AS decayed_count,
           CAST(CAST(wvsum AS VARCHAR) AS DOUBLE)
               / (1073741824.0 * 10000.0) AS decayed_value
    FROM agg
"""


# --- round-7 wave 8: PCA top component by quantized power iteration ----
#
# Unrolled PCA_ROUNDS-round twin of q_pca_power: the centered integer
# covariance (n·Σxᵢxⱼ − SᵢSⱼ over 2^20-quantized embeddings), then the
# identical magnitude-floor requantized iteration in HUGEINT (bounded:
# the Rayleigh numerator peaks ≈2e36 at sf1, under HUGEINT's 1.7e38).
def _pca_power_sql() -> str:
    sql = f"""
        WITH vv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), q AS (
            SELECT vec_id, CAST(i - 1 AS INT) AS pos,
                   CAST(FLOOR(e[i] * {float(PCA_SCALE)} + 0.5) AS BIGINT) AS x
            FROM vv, UNNEST(generate_series(1, len(e))) AS u(i)
        ), pair AS (
            SELECT a.pos AS i, b.pos AS j,
                   SUM(CAST(a.x AS HUGEINT) * b.x) AS sxx
            FROM q a JOIN q b ON a.vec_id = b.vec_id
            GROUP BY 1, 2
        ), sums AS (
            SELECT pos, SUM(x) AS s FROM q GROUP BY pos
        ), nn AS (
            SELECT CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n FROM q
        ), cov AS MATERIALIZED (
            SELECT p.i, p.j,
                   nn.n * p.sxx
                       - CAST(si.s AS HUGEINT) * sj.s AS c
            FROM pair p
            JOIN sums si ON si.pos = p.i
            JOIN sums sj ON sj.pos = p.j
            CROSS JOIN nn
        ), v0 AS (
            SELECT pos, CASE WHEN pos = 0
                             THEN CAST({PCA_SCALE} AS HUGEINT)
                             ELSE CAST(0 AS HUGEINT) END AS val
            FROM (SELECT DISTINCT pos FROM q)
        )"""
    for k in range(1, PCA_ROUNDS + 1):
        sql += f""", w{k} AS MATERIALIZED (
            SELECT c.i AS pos, SUM(c.c * v.val) AS w
            FROM cov c JOIN v{k - 1} v ON c.j = v.pos
            GROUP BY c.i
        ), m{k} AS (
            SELECT MAX(ABS(w)) AS m FROM w{k}
        ), v{k} AS MATERIALIZED (
            -- m = 0 (degenerate all-zero covariance): NULLIF turns the
            -- division NULL, COALESCE passes the previous vector
            -- through — mirroring the Python twin's break-on-zero
            -- (ADVICE r07).
            SELECT w.pos,
                   COALESCE(
                       CASE WHEN w.w >= 0
                            THEN (w.w * {PCA_SCALE}) // NULLIF(m.m, 0)
                            ELSE -(((-w.w) * {PCA_SCALE}) // NULLIF(m.m, 0))
                       END,
                       p.val) AS val
            FROM w{k} w
            JOIN v{k - 1} p ON p.pos = w.pos
            CROSS JOIN m{k} m
        )"""
    last = f"v{PCA_ROUNDS}"
    sql += f""", ray AS (
            SELECT CAST(CAST(SUM(c.c * va.val * vb.val) AS VARCHAR)
                        AS DOUBLE)
                   / CAST(CAST((SELECT SUM(val * val) FROM {last})
                               AS VARCHAR) AS DOUBLE) AS rayleigh
            FROM cov c
            JOIN {last} va ON va.pos = c.i
            JOIN {last} vb ON vb.pos = c.j
        )
        SELECT v.pos, CAST(v.val AS BIGINT) AS v, ray.rayleigh
        FROM {last} v CROSS JOIN ray
    """
    return sql


ORACLES["pca_power"] = _pca_power_sql()


# Composed multimodal curation manifest: the image_ahash + image_resize
# arithmetic composed — keep-list = min media_id per aHash, thumbnails
# for keepers only. Verifies the composition end-to-end.
def _media_pipeline_sql() -> str:
    from .operators.multimodal import IMG_GROUPS

    return f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform(range(0, 8), r ->
                       md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                           || ':' || CAST(r AS VARCHAR))) AS hs
            FROM documents
        ), pxt AS MATERIALIZED (
            SELECT doc_id,
                   flatten(list_transform(hs, h ->
                     list_transform(range(0, 8), c ->
                       (strpos('0123456789abcdef', h[2*c+1]) - 1) * 16
                       + strpos('0123456789abcdef', h[2*c+2]) - 1))) AS px
            FROM hs
        ), tot AS (
            SELECT doc_id, px, list_aggregate(px, 'sum') AS total FROM pxt
        ), ah AS MATERIALIZED (
            SELECT doc_id,
                   array_to_string(list_transform(range(0, 16), k ->
                     substr('0123456789abcdef',
                       (CASE WHEN px[4*k+1]*64 > total THEN 8 ELSE 0 END
                      + CASE WHEN px[4*k+2]*64 > total THEN 4 ELSE 0 END
                      + CASE WHEN px[4*k+3]*64 > total THEN 2 ELSE 0 END
                      + CASE WHEN px[4*k+4]*64 > total THEN 1 ELSE 0 END)
                       + 1, 1)), '') AS ahash
            FROM tot
        ), keep AS (
            SELECT ahash, MIN(doc_id) AS media_id,
                   CAST(COUNT(*) AS BIGINT) AS n_images
            FROM ah GROUP BY ahash
        )
        SELECT k.media_id, k.ahash, k.n_images,
               CAST(list_aggregate(p.px, 'sum') // 64 AS BIGINT)
                   AS brightness,
               array_to_string(list_transform(range(0, 16), kk ->
                 printf('%02x',
                   (p.px[(kk // 4) * 16 + (kk % 4) * 2 + 1]
                    + p.px[(kk // 4) * 16 + (kk % 4) * 2 + 2]
                    + p.px[(kk // 4) * 16 + (kk % 4) * 2 + 9]
                    + p.px[(kk // 4) * 16 + (kk % 4) * 2 + 10]) // 4)), '')
                   AS pooled_hex
        FROM keep k JOIN pxt p ON p.doc_id = k.media_id
    """


ORACLES["media_pipeline"] = _media_pipeline_sql()


# HLL error-bound contract (r08): the sketch estimate never crosses
# engines — the oracle recomputes the EXACT side and expects the bound
# boolean to be true, so a hash match proves the sketch pipeline's
# estimates (per-type AND the merged union row) honor the published
# ±5% (3σ at lgK=12) envelope.
ORACLES["hll_bound"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events
"""


# Real WAV PCM sample path: the planted sawtooth has a closed form, so
# the oracle regenerates every 16-bit sample arithmetically
# (generate_series) and recomputes the exact integer features — a hash
# match proves the RIFF writer -> independent chunk-walk reader ->
# JVM feature math round-trips the real format exactly.
ORACLES["audio_features"] = """
    WITH par AS (
        SELECT doc_id,
               1000 + (doc_id % 7) * 64 AS n,
               7 + doc_id % 13 AS a,
               doc_id % 997 AS b
        FROM documents
    ), sm AS (
        SELECT doc_id, n, u.t AS t,
               CAST(((a * u.t + b) % 2001) - 1000 AS INTEGER) AS s
        FROM par, UNNEST(generate_series(0, n - 1)) AS u(t)
    ), lagged AS (
        SELECT doc_id, n, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY t) AS prev
        FROM sm
    )
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS rate,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(s)) AS INTEGER) AS peak,
           CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND CAST(prev AS BIGINT) * s < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM lagged GROUP BY doc_id
"""


# MJPEG-AVI video sample path: frames are planted constant-block
# JFIFs, so every decoded gray replays through the JPEG closed form
# (see _image_jpeg_ahash_sql); brightness = Σpx/256 is exact (divide
# by 4 of an integer sum), the inter-frame delta is a lag window.
def _video_frame_stats_sql() -> str:
    from .operators.multimodal import IMG_GROUPS, JPEG_QTAB, _IDCT_K

    q0 = JPEG_QTAB[0]
    k0sq = _IDCT_K[0][0] ** 2
    return f"""
        WITH fr AS (
            SELECT doc_id, CAST(u.f AS INTEGER) AS frame_idx
            FROM documents,
                 UNNEST(generate_series(0, 2 + doc_id % 4)) AS u(f)
        ), bv AS (
            SELECT doc_id, frame_idx,
                   list_transform(range(0, 4), b ->
                     (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                               || ':v:' || CAST(frame_idx AS VARCHAR)
                               || ':' || CAST(b // 2 AS VARCHAR) || ':'
                               || CAST(b % 2 AS VARCHAR)), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id % {IMG_GROUPS} AS VARCHAR)
                               || ':v:' || CAST(frame_idx AS VARCHAR)
                               || ':' || CAST(b // 2 AS VARCHAR) || ':'
                               || CAST(b % 2 AS VARCHAR)), 2, 1)) - 1
                   ) AS v
            FROM fr
        ), gr AS (
            SELECT doc_id, frame_idx,
              list_transform(v, vv ->
                LEAST(255, GREATEST(0,
                  (CAST({q0} * (CASE WHEN vv >= 128
                          THEN (16*(vv-128) + {q0}) // {2 * q0}
                          ELSE -((16*(128-vv) + {q0}) // {2 * q0}) END)
                        AS BIGINT)
                   * {k0sq} + {1 << 29} + {256 * (1 << 30)}
                  ) // {1 << 30} - 256 + 128
                ))) AS g
            FROM bv
        ), br AS (
            SELECT doc_id, frame_idx,
                   CAST((64 * (g[1] + g[2] + g[3] + g[4])) // 256
                        AS BIGINT) AS brightness
            FROM gr
        )
        SELECT doc_id AS media_id, frame_idx,
               CAST(16 AS INTEGER) AS width,
               CAST(16 AS INTEGER) AS height,
               brightness,
               CAST(COALESCE(ABS(brightness - LAG(brightness) OVER (
                   PARTITION BY doc_id ORDER BY frame_idx)), -1)
                   AS BIGINT) AS delta_prev
        FROM br
    """


ORACLES["video_frame_stats"] = _video_frame_stats_sql()


# r08 verification flips: the shared seeded-hash convention moved from
# engine-private xxhash64 to the md5-prefix form, so both
# DataFrame-native sketches now replay bit-for-bit in SQL — the same
# class of flip as r07's portable MinHash. Shingle CTE = the
# ngram_novelty convention (len<3 fallback, per-doc distinct).

_SHINGLE_CTE = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id, list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE t END) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        )"""


def _cms_topgrams_sql() -> str:
    return (
        _SHINGLE_CTE
        + f""", pos AS (
            SELECT shingle, u.i AS r,
                   ('0x' || substr(md5(shingle || ':'
                        || CAST(u.i AS VARCHAR)), 1, 15))::BIGINT
                       % {CMS_W} AS p
            FROM inv, UNNEST(generate_series(0, {CMS_D - 1})) AS u(i)
        ), cells AS (
            SELECT r, p, COUNT(*) AS cnt FROM pos GROUP BY r, p
        ), ppos AS (
            SELECT DISTINCT shingle, r, p FROM pos
        ), est AS (
            SELECT pp.shingle AS gram,
                   CAST(MIN(c.cnt) AS BIGINT) AS est
            FROM ppos pp JOIN cells c ON c.r = pp.r AND c.p = pp.p
            GROUP BY pp.shingle
        )
        SELECT gram, est FROM est
        ORDER BY est DESC, gram LIMIT {CMS_TOPK}
    """
    )


ORACLES["cms_topgrams"] = _cms_topgrams_sql()


def _ngram_novelty_bloom_sql() -> str:
    from .operators.dedup import BLOOM_K, BLOOM_M_BITS

    return (
        _SHINGLE_CTE
        + f""", corpus AS (
            SELECT DISTINCT shingle FROM inv WHERE doc_id % 5 <> 0
        ), cpos AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(shingle || ':'
                        || CAST(u.i AS VARCHAR)), 1, 15))::BIGINT
                       % {BLOOM_M_BITS} AS p
            FROM corpus, UNNEST(generate_series(0, {BLOOM_K - 1})) AS u(i)
        ), inc AS (
            SELECT doc_id, shingle FROM inv WHERE doc_id % 5 = 0
        ), ipos AS (
            SELECT doc_id, shingle,
                   ('0x' || substr(md5(shingle || ':'
                        || CAST(u.i AS VARCHAR)), 1, 15))::BIGINT
                       % {BLOOM_M_BITS} AS p
            FROM inc, UNNEST(generate_series(0, {BLOOM_K - 1})) AS u(i)
        ), seen AS (
            SELECT i.doc_id, i.shingle,
                   MIN(CASE WHEN c.p IS NULL THEN 0 ELSE 1 END) AS hit
            FROM ipos i LEFT JOIN cpos c ON c.p = i.p
            GROUP BY i.doc_id, i.shingle
        )
        SELECT doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(1 - hit) AS BIGINT) AS n_novel,
               round(CAST(SUM(1 - hit) AS DOUBLE) / COUNT(*), 4) + 0.0
                   AS novelty
        FROM seen GROUP BY doc_id
    """
    )


ORACLES["ngram_novelty_bloom"] = _ngram_novelty_bloom_sql()


# --- r09 sketch bound contracts (VERDICT r08 ask #2: the q_hll_bound
# pattern cloned onto the remaining sketch rows — the exact side and
# the contract booleans replay in SQL; the sketch estimates stay
# in-engine and are asserted only THROUGH the booleans). ---

ORACLES["hll_distinct"] = """
    SELECT event_type,
           COUNT(*) AS n_rows,
           TRUE AS within_bound,
           TRUE AS merge_exact
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           COUNT(*) AS n_rows,
           TRUE AS within_bound,
           TRUE AS merge_exact
    FROM events
"""

ORACLES["approx_agg"] = """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS distinct_within_bound,
           TRUE AS median_within_bound
    FROM lineitem GROUP BY l_returnflag
"""

ORACLES["kll_quantiles"] = """
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p99_ok
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT '__all__' AS o_orderpriority,
           COUNT(*) AS n_rows,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p99_ok
    FROM orders
"""

# Exact trailing-7-day distinct + event counts per (type, anchor day);
# the anchor set is exactly the observed (type, day) combinations, the
# same bounded-range join shape the Spark side runs.
ORACLES["rolling_hll"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), ud AS (
        SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day
        FROM events
    ), anchors AS (
        SELECT event_type AS et, day AS d FROM daily
    ), ex AS (
        SELECT et, d, COUNT(DISTINCT user_id) AS exact_users_7d
        FROM ud JOIN anchors
          ON ud.event_type = et AND ud.day <= d AND ud.day >= d - 6
        GROUP BY et, d
    ), ne AS (
        SELECT et, d, CAST(SUM(n_events) AS BIGINT) AS n_events_7d
        FROM daily JOIN anchors
          ON daily.event_type = et AND daily.day <= d AND daily.day >= d - 6
        GROUP BY et, d
    )
    SELECT ex.et AS event_type,
           CAST(ex.d AS TIMESTAMP) AS day,
           ex.exact_users_7d,
           ne.n_events_7d,
           TRUE AS within_bound
    FROM ex JOIN ne ON ex.et = ne.et AND ex.d = ne.d
"""


def _bpe_vocab_sql() -> str:
    """Unrolled DuckDB replay of the batched BPE trainer (VERDICT r08
    ask #3): the learned merge table is deterministic — greedy batched
    selection over exact integer pair counts with the classic
    (count desc, pair desc) tie-break — so the oracle replays
    operators/tokenize.q_bpe_train pass by pass:

    * per-document pre-tokenization with the same regex, word counts;
    * per pass: adjacent-pair counts over the vocabulary, the top
      BPE_PASS_CANDIDATES candidates, a LINEAR-RECURSIVE greedy
      compatible-batch selection (the used-set walk — one recursion
      step per candidate rank, the only part of the trainer that is a
      true sequential fold), and a pure-SQL merge application: matched
      positions form islands, a merge starts at even offsets within an
      island (equivalent to the left-to-right fold because a
      compatible batch shares no symbols, so only an (a,a)-type pair
      can match consecutively), start positions emit a||b, consumed
      positions drop;
    * passes are unrolled in Python (the trainer's while-loop bound:
      N_TRAIN_MERGES/BPE_BATCH_MERGES = 3 full passes; 6 are emitted
      so under-filled batches — possible when <BATCH compatible pairs
      sit in the candidate window — still converge; a pass past the
      merge budget selects nothing and is a no-op);
    * every per-pass CTE referenced more than once is MATERIALIZED
      (DuckDB re-inlines CTEs EXPONENTIALLY otherwise — the r07
      scale-catch).

    DuckDB's binary string comparison matches Spark's UTF8 ordering,
    so tie-breaks agree; tests/test_bpe.py pins the same table against
    the pure-Python replica, making this a three-way lock."""
    from .functions.bpe import BPE_BATCH_MERGES, BPE_PASS_CANDIDATES, EOW
    from .operators.tokenize import N_TRAIN_MERGES

    rx = r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
    # Same ^\s+$ whitespace-run class as the Spark trainer's word
    # filter, the encoder, and _BPE_IS_WS — NOT trim(tok) != '':
    # DuckDB trim() strips SPACES only, so a tab/newline run would
    # stay a "word" here while the replica (tok.strip()) drops it
    # (ADVICE r10).
    ws_rx = r"^\s+$"
    n_merges, batch, cands = N_TRAIN_MERGES, BPE_BATCH_MERGES, BPE_PASS_CANDIDATES
    passes = 2 * ((n_merges + batch - 1) // batch)
    parts = [
        f"""
    toks AS (
        SELECT unnest(regexp_extract_all(text, '{rx}', 0)) AS tok
        FROM documents),
    words AS MATERIALIZED (
        SELECT tok, COUNT(*) AS n FROM toks
        WHERE NOT regexp_matches(tok, '{ws_rx}') GROUP BY tok),
    vocab_0 AS MATERIALIZED (
        SELECT tok, n,
               list_append(regexp_split_to_array(tok, ''), '{EOW}') AS sym
        FROM words),
    merges_0 AS MATERIALIZED (
        SELECT CAST(NULL AS BIGINT) AS mrank, CAST(NULL AS VARCHAR) AS a,
               CAST(NULL AS VARCHAR) AS b, CAST(NULL AS BIGINT) AS cnt
        WHERE FALSE)"""
    ]
    for k in range(1, passes + 1):
        p = k - 1
        parts.append(f"""
    pairs_{k} AS (
        SELECT v.sym[g.i] AS a, v.sym[g.i + 1] AS b,
               CAST(SUM(v.n) AS BIGINT) AS cnt
        FROM vocab_{p} v,
             UNNEST(generate_series(1, len(v.sym) - 1)) AS g(i)
        GROUP BY 1, 2),
    cands_{k} AS MATERIALIZED (
        SELECT a, b, cnt,
               CAST(row_number() OVER (
                   ORDER BY cnt DESC, a DESC, b DESC) AS BIGINT) AS rn
        FROM pairs_{k} QUALIFY rn <= {cands}),
    sel_{k}(rn, cap, used, acc) AS (
        SELECT CAST(0 AS BIGINT),
               (SELECT LEAST({batch}, {n_merges} - COUNT(*))
                FROM merges_{p}),
               []::VARCHAR[], []::STRUCT(a VARCHAR, b VARCHAR, cnt BIGINT)[]
        UNION ALL
        SELECT c.rn, s.cap,
               CASE WHEN len(s.acc) < s.cap
                     AND NOT list_contains(s.used, c.a)
                     AND NOT list_contains(s.used, c.b)
                     AND NOT list_contains(s.used, c.a || c.b)
                    THEN list_concat(s.used, [c.a, c.b, c.a || c.b])
                    ELSE s.used END,
               CASE WHEN len(s.acc) < s.cap
                     AND NOT list_contains(s.used, c.a)
                     AND NOT list_contains(s.used, c.b)
                     AND NOT list_contains(s.used, c.a || c.b)
                    THEN list_append(
                        s.acc, {{'a': c.a, 'b': c.b, 'cnt': c.cnt}})
                    ELSE s.acc END
        FROM sel_{k} s JOIN cands_{k} c ON c.rn = s.rn + 1),
    acc_{k} AS MATERIALIZED (
        SELECT g.i AS idx, (f.acc[g.i]).a AS a, (f.acc[g.i]).b AS b,
               (f.acc[g.i]).cnt AS cnt
        FROM (SELECT acc FROM sel_{k} ORDER BY rn DESC LIMIT 1) f,
             UNNEST(generate_series(1, len(f.acc))) AS g(i)),
    merges_{k} AS MATERIALIZED (
        SELECT * FROM merges_{p}
        UNION ALL
        SELECT (SELECT COUNT(*) FROM merges_{p}) + idx - 1, a, b, cnt
        FROM acc_{k}),
    pos_{k} AS (
        SELECT v.tok, v.n, g.i AS i, v.sym[g.i] AS s,
               CASE WHEN g.i < len(v.sym) THEN v.sym[g.i + 1] END AS nxt
        FROM vocab_{p} v, UNNEST(generate_series(1, len(v.sym))) AS g(i)),
    mt_{k} AS MATERIALIZED (
        SELECT p.*,
               EXISTS (SELECT 1 FROM acc_{k} a
                       WHERE a.a = p.s AND a.b = p.nxt) AS mt
        FROM pos_{k} p),
    starts_{k} AS MATERIALIZED (
        SELECT tok, i FROM (
            SELECT tok, i,
                   i - row_number() OVER (
                       PARTITION BY tok ORDER BY i) AS grp
            FROM mt_{k} WHERE mt)
        QUALIFY (i - MIN(i) OVER (PARTITION BY tok, grp)) % 2 = 0),
    vocab_{k} AS MATERIALIZED (
        SELECT p.tok, p.n,
               list(CASE WHEN st.i IS NOT NULL THEN p.s || p.nxt
                         ELSE p.s END ORDER BY p.i) AS sym
        FROM mt_{k} p
        LEFT JOIN starts_{k} st ON st.tok = p.tok AND st.i = p.i
        LEFT JOIN starts_{k} cons ON cons.tok = p.tok AND cons.i = p.i - 1
        WHERE cons.i IS NULL
        GROUP BY p.tok, p.n)""")
    body = ",".join(parts)
    return f"""WITH RECURSIVE {body}
    SELECT mrank AS merge_rank, a AS "left", b AS "right",
           a || b AS merged, cnt AS pair_count
    FROM merges_{passes}"""


ORACLES["bpe_vocab"] = _bpe_vocab_sql()

# bpe_train (r10 flip — the LAST rows-only row): its output IS
# bpe_vocab minus the derived `merged` column (q_bpe_vocab is defined
# as q_bpe_train plus a projection), so the trainer replay above is
# its oracle verbatim, re-projected. With this, every registered
# query is hash-verified.
ORACLES["bpe_train"] = f"""
    SELECT merge_rank, "left", "right", pair_count
    FROM ({_bpe_vocab_sql()})
"""


# The BPE pretokenizer regex of functions/bpe.pretokenize, verbatim.
# ASCII-classes contract (same caveat as _PRETOKEN_SQL above): Python
# re and DuckDB RE2 agree on [A-Za-z]/[0-9]/ASCII \s ∈ {space, \t, \n,
# \r, \f}; \v and unicode whitespace (\xa0, …) tokenize differently in
# the two engines and are out of contract (absent from every fixture
# and from any plain-text corpus the pretokenizer targets).
_BPE_RX = r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"

# A pretoken is a WHITESPACE RUN (counts 1 piece, as in
# encode_pieces/str.strip) iff it fully matches the tokenizer's own \s
# class. Deliberately NOT trim(tok) = '': DuckDB trim() strips SPACES
# ONLY, so a '\t' or '\n' run would leak into the words CTE and encode
# to 2 pieces — diverging from the Spark-side encoder on any corpus
# with non-space whitespace (caught by review r10; fixtures are
# space-only, which is why the gate never saw it).
_BPE_IS_WS = r"regexp_matches({col}, '^\s+$')"


def _bpe_encode_ctes() -> str:
    """Shared recursive-CTE BPE ENCODE kernel (VERDICT r09 ask #4) —
    the single source both _token_count_bpe_sql and _seq_pack_bpe_sql
    interpolate, so a fix to the replay can never desync the two.

    Expects an upstream CTE ``words(tok)`` holding the DISTINCT
    non-whitespace pretokens (the encoder is word-wise — its lru_cache
    is the same factoring) and emits ``ranks``, ``enc`` and
    ``finals(tok, n_pieces)``. The greedy encoder
    (functions/bpe.BPEEncoder._encode_word_raw) is deterministic given
    its merge table: per word, repeatedly merge the occurrence with
    the minimum (merge_rank, position) until no adjacent pair is
    ranked. Each recursion step computes the argmin via
    MIN(rank*1e6 + pos) over the unnested adjacent pairs joined to the
    ranks table, splices the merge with list slicing, and stops when
    the join finds nothing; the final state per word is the unique
    minimum-length row. The 256-row merge table is embedded as a
    VALUES literal generated from DEFAULT_ENCODER — a shared
    deterministic constant like MINHASH_A_MULT, pinned by
    tests/test_bpe.py and driver-verified end-to-end via bpe_vocab /
    bpe_train. Contract caveat: the rank*1e6+pos argmin assumes
    pretokens shorter than 1e6 chars (unreachable — the pretokenizer
    emits character-class runs)."""
    from .functions.bpe import DEFAULT_ENCODER, EOW

    def esc(s: str) -> str:
        return s.replace("'", "''")

    vals = ",\n            ".join(
        f"('{esc(a)}', '{esc(b)}', {r})"
        for r, (a, b) in enumerate(DEFAULT_ENCODER.merges)
    )
    return f"""ranks AS MATERIALIZED (
            SELECT * FROM (VALUES {vals}) AS t(a, b, mrank)
        ), enc AS (
            SELECT tok,
                   list_append(regexp_split_to_array(tok, ''), '{EOW}') AS sym
            FROM words
            UNION ALL
            SELECT tok,
                   sym[1 : bi - 1] || [sym[bi] || sym[bi + 1]]
                       || sym[bi + 2 : len(sym)] AS sym
            FROM (
                SELECT e.tok, e.sym,
                       CAST(MIN(r.mrank * 1000000 + g.i) % 1000000 AS INT)
                           AS bi
                FROM enc e,
                     UNNEST(generate_series(1, len(e.sym) - 1)) AS g(i)
                JOIN ranks r ON r.a = e.sym[g.i] AND r.b = e.sym[g.i + 1]
                GROUP BY e.tok, e.sym
            )
        ), finals AS (
            SELECT tok, MIN(len(sym)) AS n_pieces FROM enc GROUP BY tok
        )"""


def _token_count_bpe_sql() -> str:
    """Per-document replay of the BPE encode kernel (shared CTEs:
    _bpe_encode_ctes). Per-document count = sum over the document's
    pretokens — whitespace runs count 1, as in encode_pieces — via
    LEFT JOIN so empty docs keep a 0 row."""
    ws_t = _BPE_IS_WS.format(col="t.tok")
    ws_tok = _BPE_IS_WS.format(col="tok")
    return f"""
        WITH RECURSIVE doc_toks AS MATERIALIZED (
            SELECT doc_id,
                   unnest(regexp_extract_all(text, '{_BPE_RX}', 0)) AS tok
            FROM documents
        ), words AS MATERIALIZED (
            SELECT DISTINCT tok FROM doc_toks WHERE NOT {ws_tok}
        ), {_bpe_encode_ctes()}
        SELECT d.doc_id,
               len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                               x -> x <> '')) AS n_ws_tokens,
               CAST(COALESCE(SUM(CASE WHEN {ws_t} THEN 1
                                      ELSE f.n_pieces END), 0) AS BIGINT)
                   AS n_bpe_tokens
        FROM documents d
        LEFT JOIN doc_toks t ON t.doc_id = d.doc_id
        LEFT JOIN finals f ON f.tok = t.tok
        GROUP BY d.doc_id, d.text
    """


ORACLES["token_count_bpe"] = _token_count_bpe_sql()


def _seq_pack_bpe_sql() -> str:
    """Composes two already-verified replays into the tokenizer-aware
    packer's oracle: the seq_pack chunker (stride-30 windows of 40
    whitespace tokens, verbatim from ORACLES["seq_pack"]) feeds the
    shared BPE encode kernel (_bpe_encode_ctes, applied to the
    distinct pretokens of the CHUNK texts — single-space re-joined, so
    every pretoken is a word with or without its leading space), and
    the per-chunk piece counts flow through the same naive-window
    prefix-sum packing the Spark side's range-exchange plan is
    invariant-equal to. Whitespace pretokens cannot occur here (the
    ' ?'-prefixed word classes absorb the single joining spaces), but
    the CASE keeps the counting rule identical to token_count_bpe's."""
    ws_ct = _BPE_IS_WS.format(col="ct.tok")
    ws_tok = _BPE_IS_WS.format(col="tok")
    return f"""
        WITH RECURSIVE t AS MATERIALIZED (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), c AS MATERIALIZED (
            SELECT doc_id,
                   CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
                   array_to_string(toks[start : start + 39], ' ')
                       AS chunk_text
            FROM (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) + 1, 30)) AS start
                FROM t WHERE len(toks) > 0
            )
        ), ctoks AS MATERIALIZED (
            SELECT doc_id, chunk_id,
                   unnest(regexp_extract_all(chunk_text, '{_BPE_RX}', 0))
                       AS tok
            FROM c
        ), words AS MATERIALIZED (
            SELECT DISTINCT tok FROM ctoks WHERE NOT {ws_tok}
        ), {_bpe_encode_ctes()}, cc AS (
            SELECT ct.doc_id, ct.chunk_id,
                   CAST(SUM(CASE WHEN {ws_ct} THEN 1
                                 ELSE f.n_pieces END) AS BIGINT)
                       AS n_chunk_tokens
            FROM ctoks ct
            LEFT JOIN finals f ON f.tok = ct.tok
            GROUP BY ct.doc_id, ct.chunk_id
        ), p AS (
            SELECT doc_id, chunk_id, n_chunk_tokens,
                   COALESCE(SUM(n_chunk_tokens) OVER (
                       ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS st
            FROM cc
        )
        SELECT doc_id, chunk_id, n_chunk_tokens,
               CAST(st // 512 AS BIGINT) AS seq_id,
               CAST(st % 512 AS BIGINT) AS seq_off
        FROM p
    """


ORACLES["seq_pack_bpe"] = _seq_pack_bpe_sql()


# Hybrid retrieval by reciprocal rank fusion (r09): composes the
# bm25_topk and topk_similarity twins — pools rank on the round-6 BM25
# score / round-4 cosine (both conventions already hash-proven by the
# standalone rows, so ranks cannot diverge on a 1-ulp near-tie), the
# fusion terms are IEEE divisions by exact integers summed in fixed
# (lexical + vector) order.
ORACLES["hybrid_rrf"] = f"""
    WITH base AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
               {_BM25_TF}
        FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
               {_BM25_DF}
        FROM base
    ), scored AS (
        SELECT doc_id, ROUND({_BM25_SCORE}, 6) + 0.0 AS score
        FROM base CROSS JOIN stats
    ), lexpool AS (
        SELECT doc_id, score FROM scored WHERE score > 0
        ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    ), lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS lex_rank
        FROM lexpool
    ), q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id = 0
    ), vpool AS (
        SELECT vec_id,
               ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            qvec), 4) + 0.0 AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id LIMIT {BM25_TOPK}
    ), vec AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY sim DESC, vec_id)
                    AS BIGINT) AS vec_rank
        FROM vpool
    ), fused AS (
        SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rank),
                        CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + v.vec_rank),
                        CAST(0.0 AS DOUBLE)) AS rrf
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.vec_id
    )
    SELECT doc_id, lex_rank, vec_rank, ROUND(rrf, 6) + 0.0 AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_OUT}
"""


# Streaming late-data accounting (r11, VERDICT r10 ask #6): replays
# the arithmetic q_stream_late_audit's construction guarantees — the
# planted file (a copy of every first-hour event, landed last) arrives
# ~29 days past the watermark, so on-time = genuine-only counts and
# dropped = planted counts, over exactly the windows the stream
# finalized (end <= max ts - 2 h; the cutoff is never hour-aligned on
# any fixture, so the <=-vs-< emission edge cannot bite). A Spark that
# failed to drop late rows (or dropped on-time ones) hash-mismatches.
def _stream_late_audit_sql() -> str:
    from .streaming.events import LATE_AUDIT_WM_HOURS, LATE_PLANT_OFFSET

    off = LATE_PLANT_OFFSET
    wm_h = LATE_AUDIT_WM_HOURS
    return f"""
    WITH ev AS (
        SELECT event_id, ts, event_type, value FROM events
    ), plant AS (
        SELECT event_id + {off} AS event_id, ts, event_type, value
        FROM ev WHERE ts < (SELECT MIN(ts) FROM ev) + INTERVAL 1 HOUR
    ), allr AS (
        SELECT * FROM ev UNION ALL SELECT * FROM plant
    ), wm AS (
        SELECT MAX(ts) - INTERVAL {wm_h} HOUR AS w FROM allr
    ), agg AS (
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               COUNT(*) AS total_n,
               COUNT(*) FILTER (WHERE event_id < {off}) AS on_time_n,
               {exact_sum_sql(f"CASE WHEN event_id < {off} THEN value END", 2)}
                   AS on_time_sum
        FROM allr GROUP BY 1, 2
    )
    SELECT win_start, event_type,
           CAST(on_time_n AS BIGINT) AS on_time_n,
           CAST(total_n - on_time_n AS BIGINT) AS dropped_n,
           COALESCE(on_time_sum, 0.0) + 0.0 AS on_time_sum
    FROM agg, wm WHERE win_start + INTERVAL 1 HOUR <= wm.w
"""


ORACLES["stream_late_audit"] = _stream_late_audit_sql()


# Suffix-array substring dedup (r11, VERDICT r10 ask #5): brute-force
# twin of operators/suffix.q_dedup_suffix. Materialize every doc-local
# suffix (token lists — DuckDB's native list comparison IS
# lexicographic with shorter-prefix-first, exactly Spark's array order
# on the capped token-slice keys), sort with the same (doc_id, pos)
# tiebreak, LCP adjacent pairs elementwise, take each position's max
# over its two neighbors, then the same >=SUFFIX_MIN_TOKENS coverage
# and gaps-and-islands merge. Comparison cap keeps its own arithmetic
# (2^max(1, ceil(log2(least(max_len, SUFFIX_CAP))))), which slices the
# same suffixes as the Spark side's fixed SUFFIX_CAP (both are the
# whole suffix unless max_len > SUFFIX_CAP, and then both are
# SUFFIX_CAP) — vacuous on every fixture, an independent check of the
# cap otherwise.
def _dedup_suffix_sql() -> str:
    from .operators.suffix import SUFFIX_CAP, SUFFIX_MIN_TOKENS

    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), toks2 AS (
        SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1
    ), params AS (
        -- cmp = 2^levels with levels = max(1, ceil(log2(min(maxlen,
        -- cap)))): cmp >= min(maxlen, cap) and cmp <= cap, so the
        -- slices equal the Spark side's fixed-cap keys.
        SELECT CAST(POWER(2, GREATEST(1, CEIL(LOG2(LEAST(MAX(n),
                    {SUFFIX_CAP}))))) AS BIGINT) AS cmp
        FROM toks2
    ), sfx AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               t[i : i + (SELECT cmp FROM params) - 1] AS s
        FROM toks2, UNNEST(generate_series(1, n)) AS g(i)
    ), ord AS (
        SELECT doc_id, pos, s,
               ROW_NUMBER() OVER (ORDER BY s, doc_id, pos) AS sa
        FROM sfx
    ), adj0 AS (
        SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
               LEAST(len(a.s), len(b.s)) AS m,
               list_position(
                   list_transform(
                       generate_series(1, LEAST(len(a.s), len(b.s))),
                       i -> a.s[i] = b.s[i]),
                   false) AS idx
        FROM ord a JOIN ord b ON b.sa = a.sa + 1
    ), adj AS (
        -- list_position yields 0/NULL when no element differs (a full
        -- match up to the shorter suffix) — then lcp = m
        SELECT da, pa, db, pb,
               CASE WHEN NULLIF(idx, 0) IS NULL THEN m
                    ELSE idx - 1 END AS lcp
        FROM adj0
    ), lrs AS (
        SELECT doc_id, pos, MAX(lcp) AS lcp FROM (
            SELECT da AS doc_id, pa AS pos, lcp FROM adj
            UNION ALL
            SELECT db AS doc_id, pb AS pos, lcp FROM adj
        ) GROUP BY doc_id, pos
    ), hits AS (
        SELECT doc_id, pos, lcp, pos + lcp - 1 AS e
        FROM lrs WHERE lcp >= {SUFFIX_MIN_TOKENS}
    ), isl AS (
        SELECT doc_id, pos, lcp, e,
               CASE WHEN pos > COALESCE(
                        MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1) + 1
                    THEN 1 ELSE 0 END AS flag
        FROM hits
    ), isl2 AS (
        SELECT *, SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS grp
        FROM isl
    ), spans AS (
        SELECT doc_id, grp, MIN(pos) AS s, MAX(e) AS e2,
               MAX(lcp) AS span_lrs
        FROM isl2 GROUP BY doc_id, grp
    )
    SELECT sp.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
           CAST(MAX(sp.span_lrs) AS BIGINT) AS lrs_len,
           CAST(SUM(sp.e2 - sp.s + 1) AS BIGINT) AS dup_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM spans sp JOIN toks2 t ON t.doc_id = sp.doc_id
    GROUP BY sp.doc_id, t.n
"""


ORACLES["dedup_suffix"] = _dedup_suffix_sql()

# fastText-style hashed-n-gram quality classifier (r13): mirrors
# q_quality_classifier term-for-term — unigram+bigram grams hashed by
# the md5-prefix 60-bit convention into 4096 shared buckets, the label
# distilled from the quality_score heuristic (>= 0.5), NB
# log-count-ratio weights (add-1) fit on the md5-bucket < 50% labeled
# slice, each ln ROUNDed to 6 decimals and DECIMAL(18,6)-routed before
# the subtraction, tf x weight sums in decimal, unseen-in-training
# features LEFT-joined to weight 0, and the decision threshold
# calibrated as the midpoint of the train-slice class-mean scores.
# Shared CTE chain for the quality_classifier family (the model
# fit + per-doc scoring); quality_classifier emits the decision
# table, quality_classifier_report aggregates it.
_QC_CTES = """toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, unnest(
            list_concat(
                t,
                CASE WHEN len(t) >= 2
                     THEN list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i + 1])
                     ELSE [] END)) AS gram
        FROM toks
    ), tf AS (
        SELECT doc_id, feat, tf FROM (
            SELECT doc_id,
                   ('0x' || substr(md5(gram), 1, 15))::BIGINT % 4096
                       AS feat,
                   COUNT(*) AS tf
            FROM grams GROUP BY 1, 2
            UNION ALL
            SELECT doc_id,
                   4096 + least(CAST(floor(len(t) / 10) AS BIGINT), 10)
                       AS feat,
                   CAST(1 AS BIGINT) AS tf
            FROM toks WHERE len(t) > 0
        )
    ), q AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '',
                                          'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ('the','a','of','and','is'))) AS BIGINT)
                   AS stop_hits
        FROM documents
    ), lab AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                   ::BIGINT % 100 < 50 AS is_train,
               least(CASE WHEN n_tokens > 0
                          THEN CAST(n_tokens AS DOUBLE) END / 100.0, 1.0)
                   * 0.4
               + (CAST(stop_hits AS DOUBLE)
                  / CASE WHEN n_tokens > 0
                         THEN CAST(n_tokens AS DOUBLE) END) * 0.4
               + (1.0 - CAST(n_punct AS DOUBLE)
                        / CASE WHEN n_chars > 0
                               THEN CAST(n_chars AS DOUBLE) END) * 0.2
                   >= 0.5 AS label_hi
        FROM q
    ), cls AS (
        SELECT feat,
               SUM(CASE WHEN l.label_hi THEN tf ELSE 0 END) AS c_pos,
               SUM(CASE WHEN NOT l.label_hi THEN tf ELSE 0 END) AS c_neg
        FROM tf JOIN lab l USING (doc_id)
        WHERE l.is_train GROUP BY feat
    ), tot AS (
        SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg FROM cls
    ), w AS (
        SELECT feat,
               CAST(ROUND(ln(CAST(c_pos + 1 AS DOUBLE)
                             / CAST(t_pos + 4107 AS DOUBLE)), 6)
                    AS DECIMAL(18,6))
               - CAST(ROUND(ln(CAST(c_neg + 1 AS DOUBLE)
                               / CAST(t_neg + 4107 AS DOUBLE)), 6)
                      AS DECIMAL(18,6)) AS w
        FROM cls CROSS JOIN tot
    ), prior AS (
        SELECT CAST(ROUND(ln(CAST(SUM(CASE WHEN label_hi THEN 1 ELSE 0 END)
                                  AS DOUBLE)), 6) AS DECIMAL(18,6))
               - CAST(ROUND(ln(CAST(SUM(CASE WHEN NOT label_hi THEN 1 ELSE 0
                                        END) AS DOUBLE)), 6)
                      AS DECIMAL(18,6)) AS bias
        FROM lab WHERE is_train
    ), scored AS (
        SELECT doc_id,
               CAST(SUM(CAST(CAST(tf AS DECIMAL(18,0))
                             * COALESCE(w.w, CAST(0 AS DECIMAL(18,6)))
                             AS DECIMAL(38,6)))
                    + (SELECT bias FROM prior) AS DECIMAL(38,6)) AS score_d,
               COUNT(*) AS n_feat
        FROM tf LEFT JOIN w USING (feat)
        GROUP BY doc_id
    ), thr AS (
        SELECT (CAST(SUM(CASE WHEN l.label_hi THEN s.score_d END)
                     AS DOUBLE)
                / COUNT(CASE WHEN l.label_hi THEN 1 END)
                + CAST(SUM(CASE WHEN NOT l.label_hi THEN s.score_d END)
                       AS DOUBLE)
                  / COUNT(CASE WHEN NOT l.label_hi THEN 1 END)) / 2 AS thr
        FROM scored s JOIN lab l USING (doc_id)
        WHERE l.is_train
    )"""

ORACLES["quality_classifier"] = f"""
    WITH {_QC_CTES}
    SELECT s.doc_id, l.is_train, l.label_hi, s.n_feat,
           CAST(s.score_d AS DOUBLE) AS score,
           CAST(s.score_d AS DOUBLE) > t.thr AS pred_hi,
           (CAST(s.score_d AS DOUBLE) > t.thr) = l.label_hi AS correct
    FROM scored s CROSS JOIN thr t JOIN lab l USING (doc_id)
"""

# Classifier-quality report (r13): confusion counts + exact-IEEE
# derived rates per split over the same decision table.
ORACLES["quality_classifier_report"] = f"""
    WITH {_QC_CTES},
    dec AS (
        SELECT CASE WHEN l.is_train THEN 'train' ELSE 'heldout' END
                   AS split,
               l.label_hi,
               CAST(s.score_d AS DOUBLE) > t.thr AS pred_hi
        FROM scored s CROSS JOIN thr t JOIN lab l USING (doc_id)
    ), conf AS (
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN label_hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_label_hi,
               CAST(SUM(CASE WHEN pred_hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pred_hi,
               CAST(SUM(CASE WHEN pred_hi AND label_hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN pred_hi AND NOT label_hi THEN 1 ELSE 0
                        END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN NOT pred_hi AND label_hi THEN 1 ELSE 0
                        END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN NOT pred_hi AND NOT label_hi THEN 1
                        ELSE 0 END) AS BIGINT) AS tn
        FROM dec GROUP BY split
    )
    SELECT split, n_docs, n_label_hi, n_pred_hi, tp, fp, fn, tn,
           CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy,
           CASE WHEN n_pred_hi > 0
                THEN CAST(tp AS DOUBLE) / CAST(n_pred_hi AS DOUBLE)
                END AS precision,
           CASE WHEN n_label_hi > 0
                THEN CAST(tp AS DOUBLE) / CAST(n_label_hi AS DOUBLE)
                END AS recall
    FROM conf
"""

# Embedding-tier decontamination (r13): replays q_decontaminate_semantic
# bit-for-bit — eval split by the md5-bucket < 2% convention, one
# planted train-side twin (first component × 0.9) per eval vector at
# vec_id + 1e6, the integer sign-LSH band pipeline (_SIGNLSH_BANDS_CTE)
# over raw+twins, broadcast-shaped eval-band probe, candidates
# exact-cosine verified at ROUND(.,4) >= 0.95.
ORACLES["decontaminate_semantic"] = f"""
    WITH ev AS (
        SELECT vec_id FROM embeddings
        WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6))
                  ::BIGINT % 100 < 2
    ), vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT s.vec_id + 1000000, list_concat([d[1] * 0.9], d[2:])
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings) s
        JOIN ev e ON e.vec_id = s.vec_id
    ), {_SIGNLSH_BANDS_CTE},
    cand AS (
        SELECT p.vec_id AS vec_id, c.vec_id AS eval_vec
        FROM (SELECT * FROM sbands
              WHERE vec_id NOT IN (SELECT vec_id FROM ev)) p
        JOIN (SELECT * FROM sbands
              WHERE vec_id IN (SELECT vec_id FROM ev)) c
          ON p.band = c.band AND p.bucket = c.bucket
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), near_n AS (
        SELECT vec_id, COUNT(*) AS n_eval_near FROM (
            SELECT cand.vec_id,
                   ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
            FROM cand
            JOIN vecs a ON a.vec_id = cand.vec_id
            JOIN vecs b ON b.vec_id = cand.eval_vec
        ) WHERE sim >= 0.95 GROUP BY vec_id
    ), cand_n AS (
        SELECT vec_id, COUNT(*) AS n_eval_candidates
        FROM cand GROUP BY vec_id
    )
    SELECT cn.vec_id, cn.n_eval_candidates,
           COALESCE(nn.n_eval_near, 0) AS n_eval_near,
           COALESCE(nn.n_eval_near, 0) > 0 AS contaminated
    FROM cand_n cn LEFT JOIN near_n nn ON nn.vec_id = cn.vec_id
"""

# Streaming quality gate (r13): the gate is stateless per document
# given the fitted model, so the stream result equals the batch
# classifier's scored table projected to the gate columns — n_grams
# is the per-doc gram-instance total (SUM(tf), including the length
# indicator), score/admit replay the calibrated-threshold verdict.
ORACLES["stream_quality_gate"] = f"""
    WITH {_QC_CTES},
    tfsum AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_grams
        FROM tf GROUP BY 1
    )
    SELECT s.doc_id, t.n_grams,
           CAST(s.score_d AS DOUBLE) AS score,
           CAST(s.score_d AS DOUBLE) > th.thr AS admit
    FROM scored s JOIN tfsum t USING (doc_id) CROSS JOIN thr th
"""
