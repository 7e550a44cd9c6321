"""DuckDB oracles for the round-2 OLAP pack (queries_olap.py), built
from the same literals and the shared exact-arithmetic helpers."""

from __future__ import annotations

from .oracles import _davg, _dsum, _round
from .queries import SESSION_GAP_US as _SESSION_GAP_US
from .queries_olap import (
    Q5_HI,
    Q5_LO,
    Q5_REGION,
    Q7_HI,
    Q7_LO,
    Q13_EXCLUDE,
    Q15_HI,
    Q15_LO,
    Q7_NATION_A,
    Q7_NATION_B,
    Q8_NATION,
    Q8_REGION,
    Q8_TYPE,
    Q10_HI,
    Q10_LO,
    Q14_HI,
    Q14_LO,
    Q18_MIN_QTY,
    Q19_BRANDS,
    Q22_CUTOFF,
)

_REV = "l_extendedprice * (1 - l_discount)"

_Q19_ARMS = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
    f"AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in Q19_BRANDS
)
_Q19_BRAND_LIST = ", ".join(f"'{b}'" for b, *_ in Q19_BRANDS)

OLAP_ORACLES: dict[str, str] = {
    "q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               {_round(_dsum(_REV), 2)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '{Q7_LO} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{Q7_HI} 00:00:00'
          AND ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
            OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q8_market_share": f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {_round(
                   "(" + _dsum(f"CASE WHEN sn.n_name = '{Q8_NATION}' THEN {_REV} ELSE 0.0 END")
                   + ") / (" + _dsum(_REV) + ")", 6)} AS mkt_share,
               count(*) AS n_lines
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = '{Q8_TYPE}' AND r_name = '{Q8_REGION}'
        GROUP BY year(o_orderdate)
        ORDER BY o_year
    """,
    "q10_returned_revenue": f"""
        SELECT c_custkey, c_name, n_name, c_acctbal,
               {_round(_dsum(_REV), 2)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '{Q10_LO} 00:00:00'
          AND o_orderdate <  TIMESTAMP '{Q10_HI} 00:00:00'
        GROUP BY c_custkey, c_name, n_name, c_acctbal
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q14_promo_share": f"""
        SELECT {_round(
                   "100.0 * ("
                   + _dsum(f"CASE WHEN p_type = '{Q8_TYPE}' THEN {_REV} ELSE 0.0 END")
                   + ") / (" + _dsum(_REV) + ")", 4)} AS promo_pct,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '{Q14_LO} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{Q14_HI} 00:00:00'
    """,
    "q18_big_orders": f"""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(l_quantity) > {Q18_MIN_QTY}
        )
        SELECT c_custkey, c_name, o_orderkey,
               CAST(o_orderdate AS DATE) AS order_date,
               o_totalprice,
               CAST(sum_qty AS BIGINT) AS sum_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    "q19_or_pushdown": f"""
        SELECT {_round(_dsum(_REV), 2)} AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand IN ({_Q19_BRAND_LIST})
          AND ({_Q19_ARMS})
    """,
    "window_function_pack": """
        SELECT o_orderkey, o_custkey,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               first_value(o_totalprice) OVER wf AS first_price,
               last_value(o_totalprice) OVER wf AS last_price,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                    CAST(lead(o_orderdate) OVER w AS DATE)) AS BIGINT)
                   AS days_to_next
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, rn
    """,
    "stats_pack": f"""
        WITH m AS (
            SELECT l_returnflag,
                   CAST(count(*) AS DOUBLE) AS __n,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS __sq,
                   CAST(sum(CAST(l_quantity * l_quantity AS BIGINT)) AS DOUBLE)
                       AS __sq2,
                   CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
                       AS BIGINT)) AS DOUBLE) / 100.0 AS __sp,
                   -- wide accumulation: HUGEINT mirrors Spark DECIMAL(38,0)
                   CAST(sum(CAST(floor(l_quantity * l_extendedprice * 100.0
                       + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 AS __sqp
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(__n AS BIGINT) AS n_rows,
               {_round('__sq / __n', 4)} AS mean_qty,
               {_round('(__sq2 - __sq * __sq / __n) / (__n - 1)', 4)} AS var_qty,
               {_round('sqrt((__sq2 - __sq * __sq / __n) / (__n - 1))', 4)}
                   AS stddev_qty,
               {_round('(__sqp - __sq * __sp / __n) / (__n - 1)', 2)}
                   AS covar_qty_price
        FROM m
        ORDER BY l_returnflag
    """,
    "datetime_function_pack": """
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(day(o_orderdate) AS BIGINT) AS d,
               CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
               CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 DAY AS DATE)
                   AS plus3d,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)
                   AS plus1m,
               CAST(date_diff('day', DATE '1995-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch
        FROM orders
        ORDER BY o_orderkey
    """,
    "string_function_pack2": """
        SELECT c_custkey,
               lpad(c_name, 22, '*') AS lp,
               rpad(c_name, 22, '.') AS rp,
               translate(c_name, 'Cust', 'KUST') AS tr,
               reverse(c_name) AS rev,
               repeat(substr(c_name, 1, 2), 2) AS rep,
               split_part(c_name, '#', 2) AS cust_num,
               CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
               left(c_name, 8) AS l8,
               right(c_name, 6) AS r6,
               CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT) AS lev
        FROM customer
        ORDER BY c_custkey
    """,
    "quantile_pack": """
        WITH r AS (
            SELECT o_orderstatus, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_orderstatus) AS n
            FROM orders
        )
        SELECT o_orderstatus,
               min(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
                   THEN o_totalprice END) AS p25,
               min(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                   THEN o_totalprice END) AS p50,
               min(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
                   THEN o_totalprice END) AS p75,
               min(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
                   THEN o_totalprice END) AS p95
        FROM r
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "profile_orders": """
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_custkey,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT o_orderstatus) AS n_statuses,
               count(DISTINCT o_orderpriority) AS n_priorities,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price,
               CAST(min(o_orderdate) AS DATE) AS first_day,
               CAST(max(o_orderdate) AS DATE) AS last_day
        FROM orders
    """,
    "scd2_orders_status": """
        WITH target AS (
            SELECT o_orderkey AS k, o_orderstatus AS v,
                   TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
                   CAST(NULL AS TIMESTAMP) AS valid_to,
                   true AS is_current
            FROM orders
        ), batch AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus || '+'
                        ELSE o_orderstatus END AS v
            FROM orders
        ), changed AS (
            SELECT b.k, b.v
            FROM batch b JOIN target t ON b.k = t.k AND t.is_current
            WHERE b.v IS DISTINCT FROM t.v
        )
        SELECT t.k, t.v, t.valid_from, t.valid_to, t.is_current
        FROM target t
        WHERE NOT (t.is_current AND t.k IN (SELECT k FROM changed))
        UNION ALL
        SELECT t.k, t.v, t.valid_from,
               TIMESTAMP '2026-01-01 00:00:00' AS valid_to,
               false AS is_current
        FROM target t
        WHERE t.is_current AND t.k IN (SELECT k FROM changed)
        UNION ALL
        SELECT c.k, c.v,
               TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               true AS is_current
        FROM changed c
        ORDER BY k, valid_from
    """,
    "q22_idle_customers": f"""
        WITH t AS (
            SELECT {_davg('c_acctbal')} AS avg_bal
            FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey,
               count(*) AS n_cust,
               {_round(_dsum('c_acctbal'), 2)} AS total_bal
        FROM customer, t
        WHERE c_acctbal > t.avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name, {_round(_dsum(_REV), 2)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = '{Q5_REGION}'
          AND o_orderdate >= TIMESTAMP '{Q5_LO} 00:00:00'
          AND o_orderdate <  TIMESTAMP '{Q5_HI} 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q13_order_distribution": f"""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                 AND o_orderpriority <> '{Q13_EXCLUDE}'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q15_top_supplier": f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no, {_dsum(_REV)} AS revenue_raw
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{Q15_LO} 00:00:00'
              AND l_shipdate <  TIMESTAMP '{Q15_HI} 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, {_round('revenue_raw', 2)} AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE revenue_raw = (SELECT max(revenue_raw) FROM revenue)
        ORDER BY s_suppkey
    """,
    "resample_daily_rates": f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   {_round(_davg('value'), 4)} AS avg_rate,
                   count(*) AS n_ticks
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT event_type, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
        ), spine AS (
            SELECT event_type,
                   CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                       AS d
            FROM bounds
        ), joined AS (
            SELECT s.event_type, s.d, daily.avg_rate, daily.n_ticks
            FROM spine s
            LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d
        ), runs AS (
            SELECT *, count(avg_rate)
                          OVER (PARTITION BY event_type ORDER BY d) AS grp
            FROM joined
        )
        SELECT event_type, d,
               max(avg_rate) OVER (PARTITION BY event_type, grp) AS avg_rate,
               n_ticks
        FROM runs
        ORDER BY event_type, d
    """,
    "unpivot_part_measures": """
        SELECT p_partkey, 'p_size' AS measure,
               CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
        ORDER BY p_partkey, measure
    """,
    "grouping_sets_sql": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS grp_id
        FROM orders
        GROUP BY GROUPING SETS (
            (o_orderstatus, o_orderpriority),
            (o_orderpriority),
            ()
        )
        ORDER BY grp_id, o_orderstatus, o_orderpriority
    """,
    "try_function_pack": """
        SELECT event_id,
               TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
                   AS props_num,
               TRY_CAST(event_type AS BIGINT) AS type_as_num,
               CASE WHEN event_id % 5 = 0 THEN NULL
                    ELSE value / CAST(event_id % 5 AS DOUBLE) END
                   AS value_per_mod,
               CAST(NULL AS DOUBLE) AS div_zero
        FROM events
        ORDER BY event_id
    """,
    "array_function_pack": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        )
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
               list_sort(tk)[1] AS first_sorted,
               CAST(coalesce(list_position(tk, 'the'), 0) AS BIGINT)
                   AS the_pos,
               list_max(tk) AS max_tok,
               CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT)
                   AS sum_tok_lens
        FROM t
        ORDER BY doc_id
    """,
    "map_function_pack": """
        WITH t AS (
            SELECT doc_id, list_distinct(string_split(text, ' ')) AS dk
            FROM documents
        )
        SELECT doc_id,
               CAST(len(dk) AS BIGINT) AS n_keys,
               list_sort(dk)[1] AS first_key,
               CAST(len(list_sort(dk)[1]) AS BIGINT) AS first_key_len,
               CAST(len(list_filter(dk, x -> len(x) > 4)) AS BIGINT)
                   AS n_long_keys,
               CAST(list_sum(list_transform(dk, x -> len(x))) AS BIGINT)
                   AS sum_lens,
               CAST(list_sum(list_transform(dk, x -> len(x) * len(x)))
                    AS BIGINT) AS sum_sq_lens,
               list_contains(dk, 'the') AS has_the,
               CAST(len(dk) + 1 AS BIGINT) AS n_keys_plus_one
        FROM t
        ORDER BY doc_id
    """,
    "json_function_pack": """
        WITH doc AS (
            SELECT event_id,
                   concat('{"meta": ', props, ', "tags": [',
                          CAST(event_id % 5 AS STRING), ', ',
                          CAST(event_id % 7 AS STRING), '], "type": "',
                          event_type, '"}') AS j
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(j, '$.meta.k') AS BIGINT) AS meta_k,
               json_extract_string(j, '$.type') AS type_path,
               CAST(json_array_length(json_extract(j, '$.tags')) AS BIGINT)
                   AS n_tags,
               CAST(json_extract_string(j, '$.tags[1]') AS BIGINT)
                   AS second_tag,
               CAST(json_extract_string(j, '$.meta.k') AS BIGINT) AS typed_k
        FROM doc
        ORDER BY event_id
    """,
    "dq_expectations_orders": """
        SELECT 'duplicate_orderkey' AS check,
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                   AS n_violations,
               count(*) AS n_checked
        FROM orders
        UNION ALL
        SELECT 'nonpositive_totalprice',
               CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM orders
        UNION ALL
        SELECT 'null_custkey',
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM orders
        UNION ALL
        SELECT 'orphan_custkey',
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)),
               count(*)
        FROM orders
        ORDER BY "check"
    """,
    "url_function_pack": r"""
        WITH u AS (
            SELECT o_orderkey,
                   concat('https://shop', CAST(o_custkey % 10 AS STRING),
                          '.example.com/order/',
                          CAST(o_orderkey AS STRING),
                          '?p=', replace(o_orderpriority, ' ', '_')) AS u
            FROM orders
        )
        SELECT o_orderkey,
               regexp_extract(u, '^([a-z]+)://', 1) AS protocol,
               regexp_extract(u, '^[a-z]+://([^/?]+)', 1) AS host,
               regexp_extract(u, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS path,
               regexp_extract(u, '\?(.*)$', 1) AS query,
               regexp_extract(u, '[?&]p=([^&]*)', 1) AS priority_param
        FROM u
        ORDER BY o_orderkey
    """,
    "incremental_daily_state": f"""
        SELECT CAST(ts AS DATE) AS report_date,
               event_type,
               CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS sum_u,
               count(value) AS n,
               {_round("CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(value)", 4)}
                   AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "ivm_join_revenue": f"""
        SELECT c_mktsegment,
               count(o_totalprice) AS n,
               CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                   AS BIGINT)) AS BIGINT) AS sum_u,
               {_round("CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(o_totalprice)", 2)}
                   AS avg_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    # Full recompute of the POST-CDC state: the Spark side reaches this
    # via stored-state ⊕ signed retraction deltas; hash-equality proves
    # the retraction algebra exact. The +1000.0 reprice is double
    # arithmetic in both engines (CAST keeps DuckDB off the DECIMAL
    # promotion path).
    "ivm_join_revenue_retract": f"""
        WITH post AS (
            SELECT o_custkey,
                   CASE WHEN o_orderkey % 11 = 0
                        THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                        ELSE o_totalprice END AS price
            FROM orders
            WHERE o_orderkey % 13 <> 0
        )
        SELECT c_mktsegment,
               count(*) AS n,
               CAST(sum(CAST(floor(price * 1000000.0 + 0.5)
                   AS BIGINT)) AS BIGINT) AS sum_u,
               {_round("CAST(sum(CAST(floor(price * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(*)", 2)}
                   AS avg_price
        FROM post JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "ivm_minmax_recompute": """
        WITH post AS (
            SELECT o_custkey,
                   CASE WHEN o_orderkey % 11 = 0
                        THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                        ELSE o_totalprice END AS price
            FROM orders
            WHERE o_orderkey % 13 <> 0
        )
        SELECT c_mktsegment,
               min(price) AS min_price,
               max(price) AS max_price
        FROM post JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    # Full post-CDC recompute: the Spark side reaches this via the
    # maintained support-count state ⊕ signed deltas; a reprice (%11)
    # keeps the customer key, so only the %13 deletes can change
    # distinct membership — the oracle recomputes from scratch and
    # hash-equality certifies the support algebra (including the
    # reprice's -1/+1 net-zero invariant).
    "ivm_distinct_support": """
        WITH post AS (
            SELECT o_custkey FROM orders WHERE o_orderkey % 13 <> 0
        )
        SELECT c_mktsegment,
               count(DISTINCT o_custkey) AS n_distinct_custs,
               count(*) AS n_orders
        FROM post JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "regression_trend_events": """
        WITH m AS (
            SELECT event_type,
                   count(*) AS n,
                   sum(x) AS sx, sum(x * x) AS sxx,
                   sum(u) AS su, sum(x * u) AS sxu
            FROM (
                SELECT event_type,
                       datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                           AS x,
                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u
                FROM events
            )
            GROUP BY event_type
        ), r AS (
            SELECT event_type, n,
                   CAST(n AS HUGEINT) * CAST(sxu AS HUGEINT)
                       - CAST(sx AS HUGEINT) * CAST(su AS HUGEINT) AS num,
                   CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                       - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den,
                   CAST(su AS HUGEINT) AS suh, CAST(sx AS HUGEINT) AS sxh
            FROM m
        ), b AS (
            SELECT *, suh * den - num * sxh AS bnum,
                   den * CAST(n AS HUGEINT) AS bden
            FROM r
        )
        SELECT event_type, n,
               CASE WHEN den = 0 THEN NULL
                    ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                        * ((2 * abs(num) + den) // (2 * den)) AS DOUBLE)
                        / 1000000.0 END AS slope,
               CASE WHEN bden = 0 THEN NULL
                    ELSE CAST((CASE WHEN bnum < 0 THEN -1 ELSE 1 END)
                        * ((2 * abs(bnum) + bden) // (2 * bden)) AS DOUBLE)
                        / 1000000.0 END AS intercept
        FROM b
        ORDER BY event_type
    """,
    "funnel_view_click_purchase": """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        ), c AS (
            SELECT (SELECT count(*) FROM s1) AS n_view,
                   (SELECT count(*) FROM s2) AS n_click,
                   (SELECT count(*) FROM s3) AS n_purchase
        )
        SELECT n_view, n_click, n_purchase,
               CASE WHEN n_view = 0 THEN NULL
                    ELSE CAST((2 * CAST(n_click AS HUGEINT) * 1000000
                              + CAST(n_view AS HUGEINT))
                         // (2 * CAST(n_view AS HUGEINT)) AS DOUBLE)
                         / 1000000.0 END AS view_to_click,
               CASE WHEN n_click = 0 THEN NULL
                    ELSE CAST((2 * CAST(n_purchase AS HUGEINT) * 1000000
                              + CAST(n_click AS HUGEINT))
                         // (2 * CAST(n_click AS HUGEINT)) AS DOUBLE)
                         / 1000000.0 END AS click_to_purchase
        FROM c
    """,
    "cohort_retention_weekly": """
        WITH activity AS (
            SELECT DISTINCT user_id,
                   CAST(floor(datediff('day', DATE '2024-01-01',
                                       CAST(ts AS DATE)) / 7) AS BIGINT)
                       AS week_idx
            FROM events
        ), cohort AS (
            SELECT user_id, min(week_idx) AS cohort_week
            FROM activity GROUP BY user_id
        ), sizes AS (
            SELECT cohort_week, count(*) AS n_cohort
            FROM cohort GROUP BY cohort_week
        ), tri AS (
            SELECT c.cohort_week,
                   a.week_idx - c.cohort_week AS week_offset,
                   count(*) AS n_active
            FROM activity a JOIN cohort c ON a.user_id = c.user_id
            GROUP BY 1, 2
        )
        SELECT t.cohort_week, t.week_offset, t.n_active, s.n_cohort,
               CAST((2 * CAST(t.n_active AS HUGEINT) * 1000000
                     + CAST(s.n_cohort AS HUGEINT))
                    // (2 * CAST(s.n_cohort AS HUGEINT)) AS DOUBLE)
                   / 1000000.0 AS retention
        FROM tri t JOIN sizes s ON t.cohort_week = s.cohort_week
        ORDER BY t.cohort_week, t.week_offset
    """,
    "basket_part_pairs": """
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 20
    """,
    "rfm_segments": """
        WITH pc AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                       AS BIGINT)) AS monetary_u
            FROM orders GROUP BY o_custkey
        ), base AS (
            SELECT o_custkey,
                   datediff('day', last_order,
                            (SELECT max(last_order) FROM pc)) AS recency_days,
                   frequency, monetary_u
            FROM pc
        ), ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY recency_days, o_custkey)
                       AS r_rank,
                   row_number() OVER (ORDER BY -frequency, o_custkey)
                       AS f_rank,
                   row_number() OVER (ORDER BY -monetary_u, o_custkey)
                       AS m_rank,
                   count(*) OVER () AS n
            FROM base
        )
        SELECT o_custkey, recency_days, frequency,
               CAST(monetary_u AS DOUBLE) / 1000000.0 AS monetary,
               ((r_rank - 1) * 5) // n + 1 AS r_score,
               ((f_rank - 1) * 5) // n + 1 AS f_score,
               ((m_rank - 1) * 5) // n + 1 AS m_score,
               concat(((r_rank - 1) * 5) // n + 1, '-',
                      ((f_rank - 1) * 5) // n + 1, '-',
                      ((m_rank - 1) * 5) // n + 1) AS rfm_segment
        FROM ranked
        ORDER BY o_custkey
    """,
    "session_paths_top": f"""
        WITH e AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
            FROM events
        ), f AS (
            SELECT *,
                   CASE WHEN ts_us - lag(ts_us) OVER
                        (PARTITION BY user_id ORDER BY ts_us, event_id)
                        > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
            FROM e
        ), s AS (
            SELECT *,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM f
        ), p AS (
            SELECT user_id, session_id,
                   array_to_string(
                       (list(event_type ORDER BY ts_us, event_id))[1:5],
                       '>') AS path
            FROM s
            GROUP BY user_id, session_id
        )
        SELECT path, count(*) AS n_sessions
        FROM p
        GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 15
    """,
    "revenue_gini": """
        WITH pc AS (
            SELECT o_custkey,
                   sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                       AS BIGINT)) AS u
            FROM orders GROUP BY o_custkey
        ), r AS (
            SELECT u,
                   row_number() OVER (ORDER BY u, o_custkey) AS i
            FROM pc
        ), m AS (
            SELECT count(*) AS n,
                   sum(CAST(u AS HUGEINT)) AS su,
                   sum(CAST(i AS HUGEINT) * CAST(u AS HUGEINT)) AS siu
            FROM r
        )
        SELECT n,
               CAST(su AS DOUBLE) / 1000000.0 AS total_revenue,
               CAST((2 * (2 * siu - (CAST(n AS HUGEINT) + 1) * su) * 1000000
                     + CAST(n AS HUGEINT) * su)
                    // (2 * CAST(n AS HUGEINT) * su) AS DOUBLE)
                   / 1000000.0 AS gini
        FROM m
    """,
    "snapshot_diff_orders": """
        WITH old AS (
            SELECT o_orderkey, o_orderstatus FROM orders
        ), new AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN o_orderstatus || '*'
                        ELSE o_orderstatus END AS o_orderstatus
            FROM orders WHERE o_orderkey % 13 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000, 'N'
            FROM orders WHERE o_orderkey % 13 = 0
        )
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               o.o_orderstatus AS old_status,
               n.o_orderstatus AS new_status
        FROM old o
        FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_orderstatus <> n.o_orderstatus
        ORDER BY o_orderkey
    """,
    "unreferenced_parts": f"""
        SELECT p_partkey, p_name FROM part
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '{Q14_LO} 00:00:00'
              AND l_shipdate <  TIMESTAMP '{Q14_HI} 00:00:00'
        )
        ORDER BY p_partkey
    """,
    "ewma_daily_rates": f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   {_davg('value')} AS avg_rate
            FROM events GROUP BY 1, 2
        ), win AS (
            SELECT event_type, d, avg_rate,
                   list(avg_rate) OVER (
                       PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vs
            FROM daily
        )
        SELECT event_type, d,
               {_round('avg_rate', 4)} AS avg_rate,
               {_round(
                   "list_sum(list_transform(range(1, len(vs) + 1), "
                   "i -> vs[i] * ([0.0625, 0.125, 0.25, 0.5, 1.0][5 - len(vs) + i]))) "
                   "/ list_sum(list_slice([0.0625, 0.125, 0.25, 0.5, 1.0], 5 - len(vs) + 1, 5))",
                   4)} AS ewma_rate
        FROM win
        ORDER BY event_type, d
    """,
    "anomaly_zscore_daily": f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   count(value) AS n,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                       AS BIGINT) AS su,
                   CAST(sum(CAST(floor(value * value * 1000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS sq
            FROM events GROUP BY 1, 2
        ), rolled AS (
            SELECT event_type, d,
                   CAST(su AS DOUBLE) / 1000000.0 / n AS day_avg,
                   sum(n)  OVER w AS rn,
                   sum(su) OVER w AS rsu,
                   sum(sq) OVER w AS rsq
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ), z AS (
            SELECT event_type, d, day_avg,
                   CAST(rsu AS DOUBLE) / 1000000.0 / rn AS m,
                   (CAST(rsq AS DOUBLE) / 1000.0 / rn)
                       - (CAST(rsu AS DOUBLE) / 1000000.0 / rn)
                         * (CAST(rsu AS DOUBLE) / 1000000.0 / rn) AS var
            FROM rolled
        )
        SELECT event_type, d,
               {_round('day_avg', 4)} AS day_avg,
               {_round('m', 4)} AS roll_mean,
               {_round('(day_avg - m) / sqrt(var)', 4)} AS zscore,
               abs((day_avg - m) / sqrt(var)) > 2.0 AS is_anomaly
        FROM z
        ORDER BY event_type, d
    """,
    "histogram_prices": """
        SELECT least(CAST(floor((o_totalprice - 0.0) / 5000.0) AS BIGINT),
                     11) AS bin,
               count(*) AS n_orders,
               CAST(least(CAST(floor((o_totalprice - 0.0) / 5000.0) AS BIGINT),
                     11) * 5000.0 + 0.0 AS DOUBLE) AS bin_lo
        FROM orders
        GROUP BY 1
        ORDER BY bin
    """,
    "richest_customer_per_nation": f"""
        SELECT n_name,
               max_by(c_custkey,
                      CAST(floor(c_acctbal * 100) AS BIGINT) * 10000000
                          + c_custkey) AS top_custkey,
               {_round('max(c_acctbal)', 2)} AS max_acctbal,
               count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    "fuzzy_name_pairs": """
        SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edits
        FROM customer a
        JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
        ORDER BY key_a, key_b
    """,
    "conditional_agg_pack": """
        SELECT o_orderstatus,
               count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               bool_and(o_totalprice > 0) AS all_positive,
               count(DISTINCT o_orderpriority) AS n_priorities,
               CAST(sum(DISTINCT CAST(year(o_orderdate) AS BIGINT))
                   AS BIGINT) AS sum_distinct_years
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "null_function_pack": """
        SELECT event_id,
               coalesce(nullif(event_type, 'view'), '(hidden)')
                   AS type_or_hidden,
               CASE WHEN nullif(event_id % 3, 0) IS NOT NULL
                    THEN 'nonzero' ELSE 'zero' END AS mod3_class,
               (nullif(user_id % 2, 0) IS NOT DISTINCT FROM NULL)
                   AS even_user
        FROM events
        ORDER BY event_id
    """,
}


OLAP_ORACLES["interpolate_daily_rates"] = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               {_round(_davg('value'), 4)} AS avg_rate
        FROM events GROUP BY 1, 2
    ), obs AS (
        SELECT * FROM daily WHERE day(d) % 3 <> 0
    ), bounds AS (
        SELECT event_type, min(d) AS lo, max(d) AS hi FROM obs GROUP BY 1
    ), spine AS (
        SELECT event_type,
               CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS d
        FROM bounds
    ), joined AS (
        SELECT s.event_type, s.d, obs.avg_rate
        FROM spine s
        LEFT JOIN obs ON s.event_type = obs.event_type AND s.d = obs.d
    ), ctx AS (
        SELECT event_type, d, avg_rate,
               last_value(avg_rate IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN avg_rate IS NOT NULL THEN d END
                          IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
               first_value(avg_rate IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN avg_rate IS NOT NULL THEN d END
                           IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM joined
    )
    SELECT event_type, d,
           {_round("CASE WHEN avg_rate IS NOT NULL THEN avg_rate "
                   "ELSE pv + (nv - pv) * "
                   "(CAST(date_diff('day', pt, d) AS DOUBLE) "
                   "/ CAST(date_diff('day', pt, nt) AS DOUBLE)) END", 4)}
               AS avg_rate,
           avg_rate IS NULL AS is_interpolated
    FROM ctx
    ORDER BY event_type, d
"""


OLAP_ORACLES["regex_string_pack"] = """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'data')) AS BIGINT) AS n_data,
           regexp_extract(text, '[a-z]*a[a-z]*', 0) AS first_a_word,
           regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled,
           split_part(text, ' ', 3) AS third_token,
           translate(text, 'af', 'xy') AS translated,
           reverse(text) AS reversed_text,
           lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id
    FROM documents
    ORDER BY doc_id
"""

OLAP_ORACLES["bitwise_function_pack"] = """
    SELECT o_orderkey,
           o_orderkey & 255 AS and_255,
           o_orderkey | 4096 AS or_4096,
           xor(o_orderkey, 23130) AS xor_5a5a,
           o_orderkey << 3 AS shl_3,
           o_orderkey >> 2 AS shr_2,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount,
           (o_orderkey >> 3) & 1 AS bit_3
    FROM orders
    ORDER BY o_orderkey
"""

OLAP_ORACLES["variant_function_pack"] = """
    SELECT event_type,
           count(*) AS n_events,
           -- CAST the SUM back to BIGINT: DuckDB SUM(BIGINT) -> HUGEINT,
           -- which the driver's hash canonicalizes differently (VERDICT
           -- r06 root cause of the variant-pack hash_match:false).
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
           max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
           count(CASE WHEN CAST(props->>'$.k' AS BIGINT) IS NULL
                 THEN 1 END) AS n_k_null,
           count(CASE WHEN CAST(props->>'$.nope' AS BIGINT) IS NULL
                 THEN 1 END) AS n_missing_null
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

# shared VERBATIM with the in-memory variant pack: the roundtrip query
# writes the variant column through a shredded parquet table and must
# produce identical values — the gate proves path equivalence
OLAP_ORACLES["variant_shredded_roundtrip"] = OLAP_ORACLES[
    "variant_function_pack"
]

from .queries_olap import STREAK_RCTE_SQL  # noqa: E402

OLAP_ORACLES["order_streaks_rcte"] = STREAK_RCTE_SQL.format(orders="orders")

OLAP_ORACLES["sql_udf_pack"] = """
    SELECT l_returnflag,
           CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS band,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice
               * (CAST(1.0 AS DOUBLE) - l_discount)
               * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
               AS revenue
    FROM lineitem
    GROUP BY l_returnflag,
             CASE WHEN l_quantity < 10 THEN 'low'
                  WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END
    ORDER BY l_returnflag, band
"""

OLAP_ORACLES["parameterized_sql_pack"] = """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
               AS DOUBLE) / 100.0 AS total_price
    FROM orders
    WHERE o_orderdate >= '1996-01-01'
      AND o_orderdate < '1997-01-01'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Classic nested spelling of the pipe-syntax statement — hash-equality
# proves Spark's |> sugar lowers to identical semantics.
OLAP_ORACLES["pipe_syntax_pack"] = """
    WITH agg AS (
        SELECT c_mktsegment, o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS total_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= '1996-01-01'
          AND o_orderdate < '1997-01-01'
        GROUP BY c_mktsegment, o_orderstatus
    )
    SELECT c_mktsegment, o_orderstatus, n_orders,
           CAST(total_cents AS DOUBLE) / 100.0 AS total_price
    FROM agg
    WHERE n_orders >= 10
    ORDER BY c_mktsegment, o_orderstatus
"""

# Recomputes the observed in-flight metrics with a real scan — hash
# equality proves df.observe aggregates exactly like a dedicated query.
OLAP_ORACLES["observed_write_metrics"] = """
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
           count(CASE WHEN o_totalprice <= 0 THEN 1 END)
               AS nonpositive_price,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS total_cents,
           CAST(min(o_orderdate) AS DATE) AS first_date,
           CAST(max(o_orderdate) AS DATE) AS last_date
    FROM orders
"""

OLAP_ORACLES["string_agg_pack"] = """
    SELECT r_name,
           count(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           min(n_name) AS first_nation,
           max(n_name) AS last_nation
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name
    ORDER BY r_name
"""

# identical statement text: both engines support the correlated
# LATERAL + ORDER BY + LIMIT form directly
OLAP_ORACLES["lateral_topk_orders"] = """
    SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 3
    ) l
    WHERE c.c_acctbal > 9000.0
    ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey
"""


# Deliberately different mechanism from the Spark side's day-grain
# offset explode: a day × pair RANGE join (DuckDB's IEJoin handles the
# interval predicate) — hash-equality certifies the two trailing-window
# constructions agree on every horizon.
OLAP_ORACLES["trailing_active_users"] = """
    WITH pairs AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
        SELECT DISTINCT d FROM pairs
    )
    SELECT r.d AS report_d,
           count(DISTINCT CASE WHEN p.d = r.d THEN p.user_id END) AS dau,
           count(DISTINCT CASE WHEN p.d > r.d - 7 THEN p.user_id END) AS wau,
           count(DISTINCT p.user_id) AS mau
    FROM days r JOIN pairs p ON p.d <= r.d AND p.d > r.d - 28
    GROUP BY r.d
    ORDER BY report_d
"""


# Direct day-grain aggregate from RAW events — the cascade (hour →
# day re-merge) on the Spark side must land bit-identically on it:
# hash-equality certifies the mergeable-state algebra is lossless.
OLAP_ORACLES["rollup_cascade_daily"] = f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*) AS n_events,
           {_round(_dsum('value'), 2)} AS sum_value,
           {_round(_dsum('value') + ' / count(*)', 4)} AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
"""


# Same rank-arithmetic quantiles (unique total order, even-n averaging,
# ceil(p·n) disc cuts) spelled as SQL windows; winsorized mean clamps
# into [p10, p90] then runs the exact fixed-point average.
OLAP_ORACLES["robust_stats_orders"] = f"""
    WITH r AS (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM orders
    ), med AS (
        SELECT o_orderstatus,
               sum(o_totalprice) / count(*) AS median_price
        FROM r
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        GROUP BY o_orderstatus
    ), cuts AS (
        SELECT o_orderstatus,
               min(o_totalprice) AS p10,
               max(o_totalprice) AS p90
        FROM r
        WHERE rn = greatest(1, CAST(ceil(0.10 * n) AS BIGINT))
           OR rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
        GROUP BY o_orderstatus
    ), dr AS (
        SELECT o.o_orderstatus,
               abs(o.o_totalprice - m.median_price) AS dev,
               row_number() OVER (PARTITION BY o.o_orderstatus
                                  ORDER BY abs(o.o_totalprice - m.median_price),
                                           o.o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o.o_orderstatus) AS n
        FROM orders o JOIN med m USING (o_orderstatus)
    ), mad AS (
        SELECT o_orderstatus, sum(dev) / count(*) AS mad
        FROM dr
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        GROUP BY o_orderstatus
    ), winsor AS (
        SELECT o.o_orderstatus,
               {_round(_dsum('greatest(c.p10, least(c.p90, o.o_totalprice))')
                       + ' / count(*)', 4)} AS winsor_mean
        FROM orders o JOIN cuts c USING (o_orderstatus)
        GROUP BY o.o_orderstatus
    )
    SELECT m.o_orderstatus, m.median_price, d.mad, c.p10, c.p90,
           w.winsor_mean
    FROM med m
    JOIN mad d USING (o_orderstatus)
    JOIN cuts c USING (o_orderstatus)
    JOIN winsor w USING (o_orderstatus)
    ORDER BY m.o_orderstatus
"""


# The plain declarative join — bucketing on the Spark side must be a
# pure physical optimization (zero semantic drift).
OLAP_ORACLES["bucketed_colocated_join"] = f"""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           {_round(_dsum('l.l_extendedprice * (1 - l.l_discount)'), 2)}
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
"""


# Variables inlined: same dates, same exact-fixed-point threshold
# subquery text, same integer-rational 2-dp round (positive sums:
# Spark `div` = DuckDB `//`), ONE final double division.
OLAP_ORACLES["sql_variables_pack"] = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST((sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                          AS BIGINT)) * 2 + 10000) // 20000
                AS DOUBLE) / 100.0 AS sum_price
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE'1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE'1998-01-01'
      AND o_totalprice > (
          SELECT CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                               AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / count(*)
          FROM orders
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# Same micros-of-day / lead-weighting / sign-safe rational spelled in
# DuckDB: microsecond(ts) is the engine's sub-minute micros (seconds
# fraction included), so (h*3600+m*60)*1e6 + microsecond(ts) equals
# Spark's hour/minute/date_part('SECOND') composition exactly.
OLAP_ORACLES["time_weighted_avg_daily"] = """
    WITH s AS (
        SELECT event_type,
               CAST(ts AS DATE) AS d,
               (hour(ts) * 3600 + minute(ts) * 60) * 1000000
                 + microsecond(ts) AS us,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v6,
               event_id
        FROM events
    ), wtd AS (
        SELECT event_type, d, v6,
               coalesce(lead(us) OVER (PARTITION BY event_type, d
                                       ORDER BY us, event_id),
                        86400000000) - us AS w_us
        FROM s
    ), agg AS (
        SELECT event_type, d,
               count(*) AS n_samples,
               sum(CAST(v6 AS HUGEINT) * w_us) AS num,
               sum(CAST(w_us AS HUGEINT)) AS den_us
        FROM wtd GROUP BY event_type, d
    )
    SELECT event_type, d, n_samples,
           CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END
                * ((2 * abs(num) + den_us) // (2 * den_us))
                AS DOUBLE) / 1000000.0 AS twa_value
    FROM agg
    ORDER BY event_type, d
"""


# The same scrape grid, reset-aware fold and integer arithmetic; the
# ordering inside both windows is the unique (ts, event_id) pair.
OLAP_ORACLES["counter_rate_resets"] = """
    WITH counters AS (
        SELECT user_id, event_id, ts,
               sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                   OVER (PARTITION BY user_id, CAST(ts AS DATE)
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS c6
        FROM events
    ), scraped AS (
        SELECT * FROM counters WHERE event_id % 3 = 0
    ), deltas AS (
        SELECT user_id,
               CASE WHEN prev_c6 IS NULL OR c6 < prev_c6 THEN c6
                    ELSE c6 - prev_c6 END AS inc6,
               CASE WHEN prev_c6 IS NOT NULL AND c6 < prev_c6
                    THEN 1 ELSE 0 END AS is_reset
        FROM (
            SELECT user_id, c6,
                   lag(c6) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_c6
            FROM scraped
        )
    )
    SELECT user_id,
           count(*) AS n_samples,
           CAST(sum(is_reset) AS BIGINT) AS n_resets,
           CAST(sum(inc6) AS DOUBLE) / 1000000.0 AS total_increase
    FROM deltas
    GROUP BY user_id
    ORDER BY total_increase DESC, user_id
    LIMIT 100
"""


# Same version fixture spelled as UNION ALL legs (an oracle may
# re-scan), applied independently via arg_max-by-seq.
OLAP_ORACLES["cdc_out_of_order_apply"] = """
    WITH stream AS (
        SELECT o_orderkey, 0 AS seq, 'I' AS op,
               o_orderstatus AS status, o_totalprice AS price FROM orders
        UNION ALL
        SELECT o_orderkey, 2, 'U', 'P3', o_totalprice + 100.0
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, 1, 'U', 'P6', o_totalprice + 50.0
        FROM orders WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT o_orderkey, 3, 'D', NULL, NULL
        FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey, 5, 'U', 'P7', o_totalprice + 200.0
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 4, 'D', NULL, NULL
        FROM orders WHERE o_orderkey % 14 = 0
    ), applied AS (
        SELECT o_orderkey,
               arg_max(op, seq) AS win_op,
               arg_max(status, seq) AS final_status,
               arg_max(price, seq) AS final_price,
               CAST(max(seq) AS BIGINT) AS winning_seq,
               count(*) AS n_versions
        FROM stream GROUP BY o_orderkey
    )
    SELECT o_orderkey, final_status, final_price, winning_seq, n_versions
    FROM applied
    WHERE win_op <> 'D'
    ORDER BY o_orderkey
"""


# Direct-from-raw cuts: rank arithmetic over the QUANTIZED value (the
# same floor(v*100+0.5) grain the histogram stores — quantization is
# monotone, so ranks are preserved; comparing against the raw double
# would differ wherever the stored 2-dp literal is not exactly
# representable). ceil(p*n) spelled as (a + b - 1) // b integers.
OLAP_ORACLES["quantile_rollup_cascade"] = """
    WITH q AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cent
        FROM events
    ), r AS (
        SELECT day, event_type, cent,
               row_number() OVER (PARTITION BY day, event_type
                                  ORDER BY cent) AS rn,
               count(*) OVER (PARTITION BY day, event_type) AS n_total
        FROM q
    )
    SELECT day, event_type,
           max(n_total) AS n_events,
           CAST(max(CASE WHEN rn = (n_total + 1) // 2
                    THEN cent END) AS DOUBLE) / 100.0 AS p50,
           CAST(max(CASE WHEN rn = (9 * n_total + 9) // 10
                    THEN cent END) AS DOUBLE) / 100.0 AS p90,
           CAST(max(CASE WHEN rn = (99 * n_total + 99) // 100
                    THEN cent END) AS DOUBLE) / 100.0 AS p99
    FROM r
    GROUP BY day, event_type
    ORDER BY day, event_type
"""


from .queries_olap import PRUNE_HI, PRUNE_LO  # noqa: E402

# Direct filtered aggregate on raw events — partitioned layout +
# pruning on the Spark side must be purely physical.
OLAP_ORACLES["partition_pruned_scan"] = f"""
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           count(*) AS n_events,
           {_round(_dsum('value'), 2)} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN '{PRUNE_LO}' AND '{PRUNE_HI}'
    GROUP BY 1, 2
    ORDER BY event_date, event_type
"""


# The identical ANSI statement (views resolve to the same parquet);
# hash-equality pins both engines to the same three-valued logic.
OLAP_ORACLES["null_semantics_pack"] = """
    SELECT 'not_in_clean' AS case_label, count(*) AS n
    FROM orders
    WHERE o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    UNION ALL
    SELECT 'not_exists_clean', count(*)
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
    UNION ALL
    SELECT 'not_in_nullable', count(*)
    FROM orders
    WHERE o_custkey NOT IN (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
        FROM customer)
    UNION ALL
    SELECT 'in_nullable', count(*)
    FROM orders
    WHERE o_custkey IN (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
        FROM customer)
    UNION ALL
    SELECT 'not_in_null_probe', count(*)
    FROM orders
    WHERE CASE WHEN o_orderkey % 5 = 0 THEN NULL
               ELSE o_custkey END NOT IN (
        SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    ORDER BY case_label
"""


from .queries_olap import FUZZY_MAX_EDITS  # noqa: E402  (shared tunable)

# Same variant fixture (UNION ALL legs), same multi-attribute blocking
# and survivorship, closure as RECURSIVE reachability.
OLAP_ORACLES["er_golden_record"] = f"""
    WITH RECURSIVE recs AS (
        SELECT c_custkey * 4 AS rec_key, c_name AS name,
               c_nationkey AS nk, c_acctbal AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey * 4 + 1,
               concat(substr(c_name, 1, length(c_name) - 1), 'X'),
               c_nationkey, c_acctbal
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey * 4 + 2,
               concat(substr(c_name, 1, length(c_name) - 2), 'YX'),
               c_nationkey, c_acctbal
        FROM customer WHERE c_custkey % 21 = 0
    ), keyed AS (
        SELECT rec_key, name, nk, bal,
               CAST(floor(bal * 100.0 + 0.5) AS BIGINT) AS cents
        FROM recs
    ), matched AS (
        SELECT a.rec_key AS key_a, b.rec_key AS key_b
        FROM keyed a
        JOIN keyed b
          ON a.nk = b.nk AND a.cents = b.cents
         AND a.rec_key < b.rec_key
        WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_EDITS}
    ), edges AS (
        SELECT key_a AS a, key_b AS b FROM matched
        UNION
        SELECT key_b AS a, key_a AS b FROM matched
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach GROUP BY a
    ), members AS (
        SELECT comp.component, k.rec_key, k.name, k.bal,
               CAST(k.cents AS HUGEINT) * 1099511627776 + k.rec_key
                   AS ordkey
        FROM comp JOIN keyed k ON k.rec_key = comp.node
    )
    SELECT component AS cluster_id,
           count(*) AS n_members,
           arg_max(rec_key, ordkey) AS golden_key,
           arg_max(name, ordkey) AS golden_name,
           arg_max(bal, ordkey) AS golden_acctbal
    FROM members
    GROUP BY component
    ORDER BY cluster_id
"""


# Frontier via a RANGE frame strictly below the 2-dp price grid: the
# 0.005 PRECEDING bound excludes equal prices and admits every
# strictly-cheaper row — a different mechanism from the Spark side's
# price-grain rollup decomposition. Equal-price strict-date dominance
# is its own window, as on the Spark side.
OLAP_ORACLES["skyline_pareto_orders"] = """
    WITH o AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    ), w AS (
        SELECT *,
               max(d) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice
                            RANGE BETWEEN UNBOUNDED PRECEDING
                                      AND 0.005 PRECEDING) AS cheaper_max_d,
               max(d) OVER (PARTITION BY o_orderpriority, o_totalprice)
                   AS eq_max_d
        FROM o
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice, d
    FROM w
    WHERE (cheaper_max_d IS NULL OR cheaper_max_d < d)
      AND eq_max_d <= d
    ORDER BY o_orderpriority, o_orderkey
"""


from .queries_olap import ATTR_N_CHANNELS, ATTR_WINDOW_HOURS  # noqa: E402

# Same trailing-window credit split with the identical per-touch
# integer rational; unattributed purchases keep full value at -1.
OLAP_ORACLES["multi_touch_attribution"] = f"""
    WITH purch AS (
        SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v6
        FROM events WHERE event_type = 'purchase'
    ), views AS (
        SELECT user_id AS v_user, event_id AS v_id, ts AS v_ts,
               CAST(json_extract_string(props, '$.k') AS BIGINT)
                   % {ATTR_N_CHANNELS} AS channel
        FROM events WHERE event_type = 'view'
    ), joined AS (
        SELECT p.*, v.v_id, v.channel
        FROM purch p
        LEFT JOIN views v
          ON v.v_user = p.p_user
         AND v.v_ts < p.p_ts
         AND v.v_ts >= p.p_ts - INTERVAL {ATTR_WINDOW_HOURS} HOUR
    ), credited AS (
        SELECT coalesce(channel, -1) AS channel,
               CASE WHEN v_id IS NULL THEN v6
                    ELSE (2 * v6 + n_t) // (2 * n_t) END AS credit6
        FROM (
            SELECT *, count(v_id) OVER (PARTITION BY p_id) AS n_t
            FROM joined
        )
    )
    SELECT channel,
           count(*) AS n_touches,
           CAST(sum(credit6) AS DOUBLE) / 1000000.0 AS credited_value
    FROM credited
    GROUP BY channel
    ORDER BY channel
"""

# Full recompute of the FINAL table state after the three CDF-emitting
# MERGE commits (create %3<>0; upsert evens repriced *1.1 to 'M';
# upsert %5 keys repriced *0.9 to 'N'). Matched rows take every source
# column, so each commit's survivors are source rows plus
# key-anti-joined carryover. The Spark side never reads any snapshot —
# it folds ONLY the emitted change feed; hash-equality proves the feed
# is the exact signed delta of each commit.
OLAP_ORACLES["merge_cdf_ivm_roundtrip"] = f"""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0
    ), s1 AS (
        SELECT o_orderkey, 'M' AS o_orderstatus,
               {_round('o_totalprice * 1.1', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    ), s2 AS (
        SELECT o_orderkey, 'N' AS o_orderstatus,
               {_round('o_totalprice * 0.9', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % 5 = 0
    ), final AS (
        SELECT * FROM s2
        UNION ALL
        SELECT * FROM s1
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s2)
        UNION ALL
        SELECT * FROM target
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s1)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM s2)
    )
    SELECT o_orderstatus,
           count(o_totalprice) AS n,
           CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_u,
           {_round("CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(o_totalprice)", 2)}
               AS avg_price
    FROM final
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Same hot-key remap, same fact-fact fanout, recomputed relationally.
OLAP_ORACLES["skew_join_hot_keys"] = """
    WITH lf AS (
        SELECT CASE WHEN user_id % 10 < 7 THEN -1 ELSE user_id END AS sk,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v2
        FROM events
    ), rt AS (
        SELECT CASE WHEN user_id % 10 < 7 THEN -1 ELSE user_id END AS sk,
               CAST(ts AS DATE) AS day,
               count(*) AS n_day
        FROM events
        GROUP BY 1, 2
    )
    SELECT lf.sk AS sk,
           count(*) AS n_pairs,
           CAST(sum(v2) AS DOUBLE) / 100.0 AS sum_value
    FROM lf JOIN rt ON lf.sk = rt.sk
    GROUP BY lf.sk
    ORDER BY sk
"""

# Relational recomputation of the physical skipping report: same
# normalization formula (double-op order identical to
# writers._grid_norm_expr), Morton top-3-bits cell = b15*4+a15*2+b14
# (= z >> 29 for 16-bit interleave), 1-D cell = na >> 13, same
# conjunctive min/max skip rule over per-cell data bounds.
from .queries_olap import (  # noqa: E402
    ZSKIP_CUST_HI,
    ZSKIP_CUST_LO,
    ZSKIP_PRICE_HI,
    ZSKIP_PRICE_LO,
)

_ZSKIP_CELLS = f"""
    s AS (
        SELECT CAST(min(o_totalprice) AS DOUBLE) AS a_lo,
               CAST(max(o_totalprice) AS DOUBLE) AS a_hi,
               CAST(min(o_custkey) AS DOUBLE) AS b_lo,
               CAST(max(o_custkey) AS DOUBLE) AS b_hi
        FROM orders
    ), norm AS (
        SELECT o_totalprice AS a, o_custkey AS b,
               CAST(floor((CAST(o_totalprice AS DOUBLE) - s.a_lo)
                   / (CASE WHEN s.a_hi = s.a_lo THEN 1.0
                           ELSE s.a_hi - s.a_lo END) * 65535)
                   AS BIGINT) AS na,
               CAST(floor((CAST(o_custkey AS DOUBLE) - s.b_lo)
                   / (CASE WHEN s.b_hi = s.b_lo THEN 1.0
                           ELSE s.b_hi - s.b_lo END) * 65535)
                   AS BIGINT) AS nb
        FROM orders, s
    ), cells AS (
        SELECT a, b,
               ((nb >> 15) & 1) * 4 + ((na >> 15) & 1) * 2
                   + ((nb >> 14) & 1) AS zf,
               na >> 13 AS cf
        FROM norm
    )
"""

_ZSKIP_PRED = (
    f"a BETWEEN {ZSKIP_PRICE_LO} AND {ZSKIP_PRICE_HI} "
    f"AND b BETWEEN {ZSKIP_CUST_LO} AND {ZSKIP_CUST_HI}"
)
_ZSKIP_SKIP = (
    f"amin > {ZSKIP_PRICE_HI} OR amax < {ZSKIP_PRICE_LO} "
    f"OR bmin > {ZSKIP_CUST_HI} OR bmax < {ZSKIP_CUST_LO}"
)


def _zskip_layout(layout: str, cell: str) -> str:
    return f"""
        SELECT '{layout}' AS layout,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(count(*) FILTER (WHERE {_ZSKIP_SKIP}) AS BIGINT)
                   AS n_skipped,
               CAST(COALESCE(sum(n) FILTER (WHERE NOT ({_ZSKIP_SKIP})), 0)
                   AS BIGINT) AS rows_read,
               CAST(COALESCE(sum(nm) FILTER (WHERE NOT ({_ZSKIP_SKIP})), 0)
                   AS BIGINT) AS rows_matched
        FROM (
            SELECT {cell} AS f, count(*) AS n,
                   min(a) AS amin, max(a) AS amax,
                   min(b) AS bmin, max(b) AS bmax,
                   count(*) FILTER (WHERE {_ZSKIP_PRED}) AS nm
            FROM cells GROUP BY 1
        )
    """


OLAP_ORACLES["zorder_skipping_report"] = f"""
    WITH {_ZSKIP_CELLS}
    {_zskip_layout("price1d", "cf")}
    UNION ALL
    {_zskip_layout("zorder", "zf")}
    ORDER BY layout
"""

# One-pass rank walk to the same 2-dp median the scripted binary search
# converges to, plus the CDF count at the cut.
OLAP_ORACLES["sql_scripting_pack"] = """
    WITH g AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v2
        FROM events WHERE value IS NOT NULL
    ), walk AS (
        SELECT v2,
               sum(count(*)) OVER (ORDER BY v2) AS rk,
               sum(count(*)) OVER () AS n
        FROM g GROUP BY v2
    )
    SELECT CAST(max(n) AS BIGINT) AS n_values,
           CAST(min(v2) FILTER (WHERE rk >= (n + 1) // 2) AS DOUBLE) / 100.0
               AS median_2dp,
           CAST(max(rk) FILTER (
               WHERE v2 <= (SELECT min(v2) FROM walk
                            WHERE rk >= (n + 1) // 2)
           ) AS BIGINT) AS n_at_or_below
    FROM walk
"""

# Direct COUNT(DISTINCT) from raw — the expensive path the bitmap state
# exists to replace; equality proves the OR-merge algebra lossless.
OLAP_ORACLES["bitmap_distinct_users"] = """
    SELECT event_type,
           count(DISTINCT CAST(ts AS DATE)) AS n_day_states,
           count(DISTINCT user_id) AS distinct_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

# Same first-view -> first-subsequent-purchase latency and rank-walk
# cuts; epoch_us difference mirrors unix_micros on the NTZ pair.
OLAP_ORACLES["funnel_time_to_convert"] = """
    WITH tv AS (
        SELECT user_id, min(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), tp AS (
        SELECT e.user_id, min(e.ts) AS tp
        FROM events e JOIN tv ON e.user_id = tv.user_id AND e.ts >= tv.tv
        WHERE e.event_type = 'purchase'
        GROUP BY e.user_id
    ), lat AS (
        SELECT (epoch_us(tp.tp) - epoch_us(tv.tv)) // 1000000 AS s
        FROM tp JOIN tv USING (user_id)
    ), walk AS (
        SELECT s,
               sum(count(*)) OVER (ORDER BY s) AS rk,
               sum(count(*)) OVER () AS tot
        FROM lat GROUP BY s
    )
    SELECT (SELECT count(*) FROM tv) AS n_viewed,
           (SELECT count(*) FROM lat) AS n_converted,
           CAST(min(s) FILTER (WHERE rk >= (tot + 1) // 2) AS BIGINT)
               AS median_s,
           CAST(min(s) FILTER (WHERE rk >= (9 * tot + 9) // 10) AS BIGINT)
               AS p90_s
    FROM walk
"""

# Evolved-scan recompute: the %2 split decides which rows carry the
# added column; NULL-backfill becomes the explicit '<missing>' bucket.
OLAP_ORACLES["schema_evolution_read"] = """
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus
                ELSE '<missing>' END AS status_bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) / 1000000.0 AS sum_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
"""

# lower()-based equivalent of the UTF8_LCASE collation (ASCII data).
OLAP_ORACLES["collation_pack"] = """
    WITH m AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                    ELSE event_type END AS mixed
        FROM events
    )
    SELECT lower(mixed) AS k,
           count(*) AS n,
           count(DISTINCT mixed) AS n_case_variants,
           count(CASE WHEN lower(mixed) = 'view' THEN 1 END) AS n_eq_view_ci
    FROM m
    GROUP BY 1
    ORDER BY 1
"""

# Distinct-set recompute of every overlap count from raw user ids.
OLAP_ORACLES["bitmap_audience_overlap"] = """
    WITH a AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), b AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT (SELECT count(*) FROM a) AS n_a,
           (SELECT count(*) FROM b) AS n_b,
           (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b))
               AS n_and,
           (SELECT count(*) FROM (SELECT user_id FROM a UNION
                                  SELECT user_id FROM b)) AS n_or,
           (SELECT count(*) FROM a
            WHERE user_id NOT IN (SELECT user_id FROM b)) AS n_a_not_b
"""

# Join-aggregate over the FINAL post-merge table state (same three
# commits as merge_cdf_ivm_roundtrip), joined to the customer dim.
OLAP_ORACLES["merge_cdf_join_ivm"] = f"""
    WITH target AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0
    ), s1 AS (
        SELECT o_orderkey, o_custkey,
               {_round('o_totalprice * 1.1', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    ), s2 AS (
        SELECT o_orderkey, o_custkey,
               {_round('o_totalprice * 0.9', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % 5 = 0
    ), final AS (
        SELECT * FROM s2
        UNION ALL
        SELECT * FROM s1
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s2)
        UNION ALL
        SELECT * FROM target
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s1)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM s2)
    )
    SELECT c_mktsegment,
           count(o_totalprice) AS n,
           CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_u,
           {_round("CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(o_totalprice)", 2)}
               AS avg_price
    FROM final JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

# Net changes of commits 2-3 derived from the commit arithmetic: %3=0
# keys entered (insert, no pre), others update from their v1 (original)
# price; the %5 commit wins the post image over the %2 one.
OLAP_ORACLES["cdf_squash_roundtrip"] = f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN 'insert'
                ELSE 'update' END AS net_change,
           CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS DOUBLE)
                ELSE o_totalprice END AS pre_price,
           CASE WHEN o_orderkey % 5 = 0 THEN {_round('o_totalprice * 0.9', 2)}
                ELSE {_round('o_totalprice * 1.1', 2)} END AS post_price,
           CASE WHEN o_orderkey % 5 = 0 THEN 'N' ELSE 'M' END AS post_status
    FROM orders
    WHERE o_orderkey % 2 = 0 OR o_orderkey % 5 = 0
    ORDER BY o_orderkey
"""

# Same QI census relationally; floor() on the signed balance matches
# Spark's floor (both floor toward -inf).
from .queries_olap import KANON_BAL_BUCKET, KANON_K  # noqa: E402

OLAP_ORACLES["k_anonymity_report"] = f"""
    WITH cells AS (
        SELECT c_nationkey,
               floor(c_acctbal / {KANON_BAL_BUCKET}) AS bal_bucket,
               count(*) AS n
        FROM customer
        GROUP BY 1, 2
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_groups,
           count(*) FILTER (WHERE n < {KANON_K}) AS n_risky_groups,
           CAST(COALESCE(sum(n) FILTER (WHERE n < {KANON_K}), 0) AS BIGINT)
               AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS min_group_size
    FROM cells
"""

# Same weighted cumulative walk on the 2-dp grid, integer cuts.
OLAP_ORACLES["weighted_median_prices"] = """
    WITH g AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v2,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem
        GROUP BY 1, 2
    ), walk AS (
        SELECT l_returnflag, v2,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY v2) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM g
    )
    SELECT l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN cw >= (tw + 1) // 2 THEN v2 END) AS DOUBLE)
               / 100.0 AS wmedian_price,
           CAST(min(CASE WHEN cw >= (9 * tw + 9) // 10 THEN v2 END) AS DOUBLE)
               / 100.0 AS wp90_price
    FROM walk
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


# --- wave 5 (round 11) -----------------------------------------------------

from .queries_olap import (  # noqa: E402
    CEP_WITHIN_HOURS,
    Q2_REGION,
    Q2_SIZE,
    Q2_TOPK,
    Q21_LATE_DAYS,
    Q21_TOPK,
    RANGE_FRAME_US,
    SPATIAL_CUST,
    SPATIAL_CUST_Y,
    SPATIAL_MOD,
    SPATIAL_RADIUS,
    SPATIAL_SUPP_X,
    SPATIAL_SUPP_Y,
)

# Textbook double-correlated EXISTS / NOT-EXISTS form — three logical
# scans of lineitem, the shape the engine decorrelates to one.
OLAP_ORACLES["q21_sole_late_supplier"] = f"""
    SELECT s_name, count(*) AS numwait
    FROM (
        SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        FROM lineitem l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate >
                    o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY)
    ) b
    JOIN supplier ON s_suppkey = b.l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT {Q21_TOPK}
"""

# INDEPENDENT formulation (ADVICE r11): a 3-way self-join on
# consecutive row_numbers — no lead() rewrite shared with the engine,
# so a misconception in the pattern semantics can't hide in both sides.
OLAP_ORACLES["cep_pattern_funnel"] = f"""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               substr(event_type, 1, 1) AS e,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), m AS (
        SELECT v.user_id, v.ts
        FROM seq v
        JOIN seq c ON c.user_id = v.user_id AND c.rn = v.rn + 1
            AND c.e = 'c'
        JOIN seq p ON p.user_id = v.user_id AND p.rn = v.rn + 2
            AND p.e = 'p'
        WHERE v.e = 'v'
          AND p.ts <= v.ts + INTERVAL {CEP_WITHIN_HOURS} HOUR
    )
    SELECT user_id, count(*) AS n_matches, min(ts) AS first_match_ts
    FROM m GROUP BY user_id ORDER BY user_id
"""

# Interval RANGE frame over the raw timestamp — a genuinely different
# frame mechanism from the engine's epoch-microsecond numeric range.
OLAP_ORACLES["range_frame_peak_window"] = f"""
    WITH e AS (
        SELECT user_id, ts,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v2
        FROM events
    ), w AS (
        SELECT user_id,
               sum(v2) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL {RANGE_FRAME_US // 3_600_000_000}
                       HOUR PRECEDING AND CURRENT ROW) AS roll
        FROM e
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(max(roll) AS DOUBLE) / 100.0 AS peak_4h_value
    FROM w GROUP BY user_id ORDER BY user_id
"""

# Correlated scalar-subquery-against-aggregate form (per-part min
# recomputed per outer row), ties kept — the Q2 textbook shape.
OLAP_ORACLES["q2_min_cost_supplier"] = f"""
    WITH rs AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{Q2_REGION}'
    ), cost AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                   AS min_cents
        FROM lineitem JOIN rs ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    ), best AS (
        SELECT c1.l_partkey, c1.l_suppkey, c1.min_cents
        FROM cost c1
        WHERE c1.min_cents = (
            SELECT min(c2.min_cents) FROM cost c2
            WHERE c2.l_partkey = c1.l_partkey)
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           CAST(min_cents AS DOUBLE) / 100.0 AS best_price
    FROM best
    JOIN part ON p_partkey = l_partkey
    JOIN rs ON l_suppkey = s_suppkey
    WHERE p_size = {Q2_SIZE}
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT {Q2_TOPK}
"""

# Brute-force O(|C| x |S|) cross join — certifies the grid pruning.
OLAP_ORACLES["spatial_grid_knn"] = f"""
    WITH c AS (
        SELECT c_custkey,
               (c_custkey * {SPATIAL_CUST[0]} + {SPATIAL_CUST[1]})
                   % {SPATIAL_MOD} AS cx,
               (c_custkey * {SPATIAL_CUST_Y[0]} + {SPATIAL_CUST_Y[1]})
                   % {SPATIAL_MOD} AS cy
        FROM customer
    ), s AS (
        SELECT s_suppkey,
               (s_suppkey * {SPATIAL_SUPP_X[0]} + {SPATIAL_SUPP_X[1]})
                   % {SPATIAL_MOD} AS sx,
               (s_suppkey * {SPATIAL_SUPP_Y[0]} + {SPATIAL_SUPP_Y[1]})
                   % {SPATIAL_MOD} AS sy
        FROM supplier
    ), d AS (
        SELECT c_custkey, s_suppkey,
               (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
        FROM c CROSS JOIN s
        WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
              <= {SPATIAL_RADIUS * SPATIAL_RADIUS}
    ), m AS (
        SELECT c_custkey, min(d2) AS dist2 FROM d GROUP BY 1
    )
    SELECT m.c_custkey, min(d.s_suppkey) AS s_suppkey, m.dist2
    FROM m JOIN d ON d.c_custkey = m.c_custkey AND d.d2 = m.dist2
    GROUP BY m.c_custkey, m.dist2
    ORDER BY m.c_custkey
"""


# --- wave 6 (round 11) -----------------------------------------------------

from .queries_olap import DPP_BUSY_FACTOR  # noqa: E402

# Plain relational recompute of the busy-day set — no partitioned
# layout, no dynamic pruning; proves the layout is purely physical.
OLAP_ORACLES["dpp_partitioned_join"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS event_date, count(*) AS n
        FROM events GROUP BY 1
    ), busy AS (
        SELECT event_date FROM (
            SELECT event_date, n, avg(n) OVER () AS avg_n FROM daily
        ) WHERE n > {DPP_BUSY_FACTOR} * avg_n
    )
    SELECT event_type,
           count(*) AS n_events,
           {_round(_dsum('value'), 2)} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) IN (SELECT event_date FROM busy)
    GROUP BY event_type
    ORDER BY event_type
"""

# n + exact lower median recomputed relationally; the certificate is
# pinned TRUE — a mismatch means the sketch broke its rank bound.
OLAP_ORACLES["approx_quantile_certified"] = """
    WITH g AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v2,
               count(*) AS c
        FROM lineitem GROUP BY 1, 2
    ), walk AS (
        SELECT l_returnflag, v2,
               sum(c) OVER (PARTITION BY l_returnflag ORDER BY v2) AS cw,
               sum(c) OVER (PARTITION BY l_returnflag) AS tw
        FROM g
    )
    SELECT l_returnflag,
           CAST(max(tw) AS BIGINT) AS n_rows,
           CAST(min(CASE WHEN cw >= (tw + 1) // 2 THEN v2 END) AS DOUBLE)
               / 100.0 AS exact_median,
           TRUE AS approx_in_bound
    FROM walk
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

from .queries_olap import LINEAGE_N_LOADS as _LINEAGE_N_LOADS

OLAP_ORACLES["file_lineage_scan"] = f"""
    SELECT event_id % {_LINEAGE_N_LOADS} AS load_id,
           count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           {_round(_dsum('value'), 2)} AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY load_id
"""

from .queries_olap import CEP_KLEENE_CAP as _KLEENE_CAP
from .queries_olap import CEP_WITHIN_HOURS as _CEP_WITHIN


def _kleene_chain_sql(m: int) -> str:
    """One closure length as a consecutive-rn self-join chain: view at
    rn, clicks at rn+1..rn+m, purchase at rn+m+1 — an (m+2)-way join
    with no anchor trick, independent of the engine's formulation."""
    joins = "\n        ".join(
        f"JOIN seq c{i} ON c{i}.user_id = v.user_id "
        f"AND c{i}.rn = v.rn + {i} AND c{i}.e = 'c'"
        for i in range(1, m + 1)
    )
    return f"""
        SELECT v.user_id, v.ts AS view_ts, {m} AS n_clicks
        FROM seq v
        {joins}
        JOIN seq p ON p.user_id = v.user_id AND p.rn = v.rn + {m + 1}
            AND p.e = 'p'
        WHERE v.e = 'v'
          AND p.ts <= v.ts + INTERVAL {_CEP_WITHIN} HOUR"""


OLAP_ORACLES["cep_kleene_funnel"] = f"""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               substr(event_type, 1, 1) AS e,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), m AS ({" UNION ALL ".join(_kleene_chain_sql(m) for m in range(1, _KLEENE_CAP + 1))}
    )
    SELECT user_id,
           count(*) AS n_matches,
           min(view_ts) AS first_match_ts,
           CAST(max(n_clicks) AS BIGINT) AS longest_run
    FROM m
    GROUP BY user_id
    ORDER BY user_id
"""

from .oracles import _MERGE_SELECT as _HS_MERGE_SELECT
from .oracles import _dsum as _hs_dsum
from .oracles import _round as _hs_round
from .queries_olap import HISTORY_SKIP_BANDS as _HS_BANDS

_HS_BAND_SELECTS = "\n    UNION ALL ".join(
    f"""SELECT CAST({lo!r} AS DOUBLE) AS band_lo,
           CAST({hi!r} AS DOUBLE) AS band_hi,
           (SELECT count(*) FROM merged) AS snapshot_rows,
           count(*) AS n_matched,
           {_hs_round(_hs_dsum('o_totalprice'), 2)} AS sum_price
    FROM merged
    WHERE o_totalprice BETWEEN {lo!r} AND {hi!r}"""
    for lo, hi in _HS_BANDS
)

OLAP_ORACLES["history_skip_scan"] = f"""
    WITH target AS (
        SELECT * FROM orders WHERE o_orderkey % 3 <> 0
    ), source AS (
        SELECT o_orderkey, o_custkey,
               'M' AS o_orderstatus,
               {_hs_round('o_totalprice * 1.1', 2)} AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
    ), merged AS (
        SELECT {_HS_MERGE_SELECT}
        FROM target t
        FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    )
    {_HS_BAND_SELECTS}
    ORDER BY band_lo
"""

from .queries_olap import MSR_BUCKET_WIDTH as _MSR_W

# manifest_skipping_read: recompute the merged state relationally (the
# %2 merge only flips o_orderstatus, so upsert = membership union) and
# the band aggregates incl. count(DISTINCT price_bucket) — the value a
# naive file-list scan would LOSE (hive partition columns live in the
# directory names); a hash match certifies the manifest's skip
# decisions dropped no matching file and the basePath read kept the
# partition column exact.
_MSR_BAND_SELECTS = "\n    UNION ALL ".join(
    f"""SELECT CAST({lo!r} AS DOUBLE) AS band_lo,
           CAST({hi!r} AS DOUBLE) AS band_hi,
           count(*) AS n_matched,
           {_hs_round(_hs_dsum('o_totalprice'), 2)} AS sum_price,
           count(DISTINCT price_bucket) AS n_buckets
    FROM merged
    WHERE o_totalprice BETWEEN {lo!r} AND {hi!r}"""
    for lo, hi in _HS_BANDS
)

OLAP_ORACLES["manifest_skipping_read"] = f"""
    WITH merged AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 2 = 0 THEN 'M'
                    ELSE o_orderstatus END AS o_orderstatus,
               CAST(floor(o_totalprice / {_MSR_W!r}) AS BIGINT)
                   AS price_bucket
        FROM orders
        WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0
    )
    {_MSR_BAND_SELECTS}
    ORDER BY band_lo
"""

from .queries_olap import TDIFF_INSERT_OFFSET as _TD_OFF

# Protocol-free diff: rebuild the replica, FULL OUTER JOIN on the key,
# compare the actual columns — certifies the bucketed digest protocol
# found the true drift.
OLAP_ORACLES["table_diff_audit"] = f"""
    WITH replica AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate,
               CASE WHEN o_orderkey % 97 = 0 THEN 'DRIFTED'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 131 <> 0
        UNION ALL
        SELECT o_orderkey + {_TD_OFF}, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 173 = 0
    ), diff AS (
        SELECT CASE
                 WHEN b.o_orderkey IS NULL THEN 'inserted'
                 WHEN r.o_orderkey IS NULL THEN 'deleted'
                 WHEN b.o_custkey <> r.o_custkey
                   OR b.o_orderstatus <> r.o_orderstatus
                   OR floor(b.o_totalprice * 100.0 + 0.5)
                      <> floor(r.o_totalprice * 100.0 + 0.5)
                   OR CAST(b.o_orderdate AS DATE)
                      <> CAST(r.o_orderdate AS DATE)
                   OR b.o_orderpriority <> r.o_orderpriority
                 THEN 'modified'
               END AS diff_kind,
               coalesce(b.o_orderkey, r.o_orderkey) AS key
        FROM orders b
        FULL OUTER JOIN replica r ON b.o_orderkey = r.o_orderkey
    )
    SELECT diff_kind, count(*) AS n,
           CAST(sum(key) AS BIGINT) AS key_sum,
           min(key) AS min_key, max(key) AS max_key
    FROM diff
    WHERE diff_kind IS NOT NULL
    GROUP BY diff_kind
    ORDER BY diff_kind
"""

from .queries_olap import PEVO_HI as _PEVO_HI
from .queries_olap import PEVO_LO as _PEVO_LO
from .queries_olap import PEVO_TYPES as _PEVO_TYPES

OLAP_ORACLES["partition_evolution_read"] = f"""
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           count(*) AS n_events,
           {_hs_round(_hs_dsum('value'), 2)} AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '{_PEVO_LO}' AND DATE '{_PEVO_HI}'
      AND event_type IN ({", ".join(f"'{t}'" for t in _PEVO_TYPES)})
    GROUP BY 1, 2
    ORDER BY event_date, event_type
"""

from .queries_olap import PEVO_CUTOVER as _PEVO_CUT
from .queries_olap import PEVO_UPD_MOD as _PEVO_MOD

# partition_evolution_history: rebuild the spec-evolved table's current
# state relationally — pre-cutover rows re-priced where event_id % MOD
# == 0 (the cross-boundary merge's in-place old-spec update),
# post-cutover rows as-is — then the same pruned report. A hash match
# certifies the layout routing AND the old-spec rewrite values, with
# no duplicate or dropped key at the cutover.
OLAP_ORACLES["partition_evolution_history"] = f"""
    WITH cur AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) < DATE '{_PEVO_CUT}'
                         AND event_id % {_PEVO_MOD} = 0
                    THEN {_hs_round('value * 1.1', 2)}
                    ELSE value END AS value,
               CAST(ts AS DATE) AS event_date
        FROM events
    )
    SELECT event_date,
           event_type,
           count(*) AS n_events,
           {_hs_round(_hs_dsum('value'), 2)} AS sum_value
    FROM cur
    WHERE event_date BETWEEN DATE '{_PEVO_LO}' AND DATE '{_PEVO_HI}'
      AND event_type IN ({", ".join(f"'{t}'" for t in _PEVO_TYPES)})
    GROUP BY 1, 2
    ORDER BY event_date, event_type
"""

# evolved_merge_cdf: rebuild the cross-boundary commit's INDUCED change
# set relationally — inserts = post-cutover rows, update pairs = the
# %MOD re-price pre/post images — and fold it exactly as the query
# folds the real feed (signed scaled-int micro-units). A hash match
# certifies the per-layout feed is exactly the induced delta.
OLAP_ORACLES["evolved_merge_cdf"] = f"""
    WITH ev AS (
        SELECT event_id, event_type, value, CAST(ts AS DATE) AS d
        FROM events
    ), chg AS (
        SELECT event_type, value, 1 AS w, 'insert' AS ct
        FROM ev WHERE d >= DATE '{_PEVO_CUT}'
        UNION ALL
        SELECT event_type, {_hs_round('value * 1.1', 2)}, 1,
               'update_postimage'
        FROM ev WHERE d < DATE '{_PEVO_CUT}' AND event_id % {_PEVO_MOD} = 0
        UNION ALL
        SELECT event_type, value, -1, 'update_preimage'
        FROM ev WHERE d < DATE '{_PEVO_CUT}' AND event_id % {_PEVO_MOD} = 0
    )
    SELECT event_type,
           count(*) FILTER (WHERE ct = 'insert') AS n_insert,
           count(*) FILTER (WHERE ct = 'update_postimage') AS n_update,
           {_hs_round(
               "CAST(SUM(w * CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))"
               " AS DOUBLE) / 1000000.0", 2)} AS delta_sum
    FROM chg
    GROUP BY event_type
    ORDER BY event_type
"""

from .queries_olap import PEVO_CUT2 as _PEVO_CUT2
from .queries_olap import PEVO_RB_HI as _PEVO_RB_HI
from .queries_olap import PEVO_RB_LO as _PEVO_RB_LO

# partition_spec_rollback: rebuild the evolve -> rollback -> merge end
# state relationally. Value lineage mirrors the engine's update waves
# exactly — each wave's expression is computed from the ORIGINAL value
# (the engine builds its update batches from the source frame, not the
# table), and the wave predicates are disjoint per slice: pre-cutover
# rows take x1.1 when id%MOD==0, else x1.2 when id%5==0; mid-slice rows
# take x1.3 when id%3==0; late rows land as-is under the rolled-back
# spec. A hash match certifies the three-layout routing (first and
# third sharing a spec) duplicated/dropped/double-updated nothing.
OLAP_ORACLES["partition_spec_rollback"] = f"""
    WITH cur AS (
        SELECT event_type,
               CASE
                   WHEN CAST(ts AS DATE) < DATE '{_PEVO_CUT}'
                        AND event_id % {_PEVO_MOD} = 0
                   THEN {_hs_round('value * 1.1', 2)}
                   WHEN CAST(ts AS DATE) < DATE '{_PEVO_CUT}'
                        AND event_id % {_PEVO_MOD} <> 0
                        AND event_id % 5 = 0
                   THEN {_hs_round('value * 1.2', 2)}
                   WHEN CAST(ts AS DATE) >= DATE '{_PEVO_CUT}'
                        AND CAST(ts AS DATE) < DATE '{_PEVO_CUT2}'
                        AND event_id % 3 = 0
                   THEN {_hs_round('value * 1.3', 2)}
                   ELSE value
               END AS value,
               CAST(ts AS DATE) AS event_date
        FROM events
    )
    SELECT event_date,
           event_type,
           count(*) AS n_events,
           {_hs_round(_hs_dsum('value'), 2)} AS sum_value
    FROM cur
    WHERE event_date BETWEEN DATE '{_PEVO_RB_LO}' AND DATE '{_PEVO_RB_HI}'
      AND event_type IN ({", ".join(f"'{t}'" for t in _PEVO_TYPES)})
    GROUP BY 1, 2
    ORDER BY event_date, event_type
"""

from .queries_olap import SMR_BANDS as _SMR_BANDS
from .queries_olap import SMR_BUCKET_WIDTH as _SMR_W

# sharded_manifest_read: recompute the merged state (the %7 merge only
# flips o_orderstatus; keys unchanged so membership is the full table)
# and the band x status aggregates relationally; a hash match
# certifies the census-served skip decisions dropped no matching
# file and the basePath read kept partition values exact. price_bucket
# itself is folded into the engine's scan (partition dirs), so the
# oracle needs only the flip + bands.
_SMR_BAND_SELECTS = "\n    UNION ALL ".join(
    f"""SELECT CAST({lo!r} AS DOUBLE) AS band_lo,
           CAST({hi!r} AS DOUBLE) AS band_hi,
           o_orderstatus,
           count(*) AS n_matched,
           CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_cents
    FROM merged
    WHERE o_totalprice BETWEEN {lo!r} AND {hi!r}
    GROUP BY o_orderstatus"""
    for lo, hi in _SMR_BANDS
)

OLAP_ORACLES["sharded_manifest_read"] = f"""
    WITH merged AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 7 = 0 THEN 'S'
                    ELSE o_orderstatus END AS o_orderstatus
        FROM orders
    )
    {_SMR_BAND_SELECTS}
    ORDER BY band_lo, o_orderstatus
"""

from .queries_olap import CDFR_FACTORS as _CDFR_F
from .queries_olap import CDFR_MODS as _CDFR_M

# cdf_retention_feed: replay the four merges relationally and rebuild
# each commit's induced change set from CONSECUTIVE STATES (update
# pre/post pairs where the key existed, inserts where it didn't), then
# fold exactly as the query folds the real feeds (signed scaled-int
# micro-units, multiply AFTER the floor). Commit 1's feed is past
# retention in the engine (loud-expired, pytest-pinned), so the oracle
# emits commits 2-4 only. States are MATERIALIZED: DuckDB inlines
# plain CTEs per reference and the state chain is referenced twice per
# level.
OLAP_ORACLES["cdf_retention_feed"] = f"""
    WITH state0 AS MATERIALIZED (
        SELECT o_orderkey AS k, o_totalprice AS v
        FROM orders WHERE o_orderkey % 3 <> 0
    ), src2 AS MATERIALIZED (
        SELECT o_orderkey AS k, {_hs_round(f'o_totalprice * {_CDFR_F[0]!r}', 2)} AS v
        FROM orders WHERE o_orderkey % {_CDFR_M[0]} = 0
    ), state1 AS MATERIALIZED (
        SELECT k, v FROM src2
        UNION ALL
        SELECT k, v FROM state0 WHERE k NOT IN (SELECT k FROM src2)
    ), src3 AS MATERIALIZED (
        SELECT o_orderkey AS k, {_hs_round(f'o_totalprice * {_CDFR_F[1]!r}', 2)} AS v
        FROM orders WHERE o_orderkey % {_CDFR_M[1]} = 0
    ), state2 AS MATERIALIZED (
        SELECT k, v FROM src3
        UNION ALL
        SELECT k, v FROM state1 WHERE k NOT IN (SELECT k FROM src3)
    ), src4 AS MATERIALIZED (
        SELECT o_orderkey AS k, {_hs_round(f'o_totalprice * {_CDFR_F[2]!r}', 2)} AS v
        FROM orders WHERE o_orderkey % {_CDFR_M[2]} = 0
    ), chg AS (
        SELECT 2 AS cv, 'update_postimage' AS ct, 1 AS w, s.v
        FROM src2 s JOIN state0 t ON s.k = t.k
        UNION ALL
        SELECT 2, 'update_preimage', -1, t.v
        FROM src2 s JOIN state0 t ON s.k = t.k
        UNION ALL
        SELECT 2, 'insert', 1, s.v
        FROM src2 s WHERE s.k NOT IN (SELECT k FROM state0)
        UNION ALL
        SELECT 3, 'update_postimage', 1, s.v
        FROM src3 s JOIN state1 t ON s.k = t.k
        UNION ALL
        SELECT 3, 'update_preimage', -1, t.v
        FROM src3 s JOIN state1 t ON s.k = t.k
        UNION ALL
        SELECT 3, 'insert', 1, s.v
        FROM src3 s WHERE s.k NOT IN (SELECT k FROM state1)
        UNION ALL
        SELECT 4, 'update_postimage', 1, s.v
        FROM src4 s JOIN state2 t ON s.k = t.k
        UNION ALL
        SELECT 4, 'update_preimage', -1, t.v
        FROM src4 s JOIN state2 t ON s.k = t.k
        UNION ALL
        SELECT 4, 'insert', 1, s.v
        FROM src4 s WHERE s.k NOT IN (SELECT k FROM state2)
    )
    SELECT CAST(cv AS BIGINT) AS commit_version,
           count(*) FILTER (WHERE ct = 'insert') AS n_insert,
           count(*) FILTER (WHERE ct = 'update_postimage') AS n_update,
           CAST(SUM(w * CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS delta_u
    FROM chg
    GROUP BY cv
    ORDER BY commit_version
"""

from .queries_olap import ESD_SUBJECT_MOD as _ESD_MOD

# evolved_subject_delete: the partition_evolution_history end state
# (the %MOD re-price on pre-cutover rows) MINUS the deleted subject
# class — a hash match certifies the per-layout delete removed exactly
# the subject across both specs and both cutover sides, nothing else.
OLAP_ORACLES["evolved_subject_delete"] = f"""
    WITH cur AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) < DATE '{_PEVO_CUT}'
                         AND event_id % {_PEVO_MOD} = 0
                    THEN {_hs_round('value * 1.1', 2)}
                    ELSE value END AS value,
               CAST(ts AS DATE) AS event_date
        FROM events
        WHERE user_id % {_ESD_MOD} <> 0
    )
    SELECT event_date,
           event_type,
           count(*) AS n_events,
           {_hs_round(_hs_dsum('value'), 2)} AS sum_value
    FROM cur
    WHERE event_date BETWEEN DATE '{_PEVO_LO}' AND DATE '{_PEVO_HI}'
      AND event_type IN ({", ".join(f"'{t}'" for t in _PEVO_TYPES)})
    GROUP BY 1, 2
    ORDER BY event_date, event_type
"""

# evolved_compaction_read: compaction changes file layout and NOTHING
# else, so the oracle is partition_evolution_history's VERBATIM — a
# hash match against the uncompacted state certifies zero rows or
# values lost, duplicated, or re-routed by the per-layout rewrite.
OLAP_ORACLES["evolved_compaction_read"] = OLAP_ORACLES[
    "partition_evolution_history"
]

# cdf_compacted_feed_ivm: recompute the FINAL table state after the
# four CDF-emitting commits (create %3<>0, then the three
# cdf_retention_feed reprice waves layered last-wins) and aggregate it
# relationally. The Spark side folds ONLY the readable change feed —
# with the two oldest preserved feeds SQUASHED into one net feed at
# retention time — so a hash match certifies the squash telescopes
# exactly (retract first-pre + add last-post ≡ every intermediate
# pair). The two literal columns pin the on-disk mechanism: one net
# feed, one granular preserved feed.
OLAP_ORACLES["cdf_compacted_feed_ivm"] = f"""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 <> 0
    ), s1 AS (
        SELECT o_orderkey, 'M' AS o_orderstatus,
               {_hs_round(f'o_totalprice * {_CDFR_F[0]!r}', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % {_CDFR_M[0]} = 0
    ), s2 AS (
        SELECT o_orderkey, 'N' AS o_orderstatus,
               {_hs_round(f'o_totalprice * {_CDFR_F[1]!r}', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % {_CDFR_M[1]} = 0
    ), s3 AS (
        SELECT o_orderkey, 'P' AS o_orderstatus,
               {_hs_round(f'o_totalprice * {_CDFR_F[2]!r}', 2)} AS o_totalprice
        FROM orders WHERE o_orderkey % {_CDFR_M[2]} = 0
    ), final AS (
        SELECT * FROM s3
        UNION ALL
        SELECT * FROM s2
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s3)
        UNION ALL
        SELECT * FROM s1
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s2)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM s3)
        UNION ALL
        SELECT * FROM target
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s1)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM s2)
          AND o_orderkey NOT IN (SELECT o_orderkey FROM s3)
    )
    SELECT o_orderstatus,
           count(o_totalprice) AS n,
           CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_u,
           {_hs_round("CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / count(o_totalprice)", 2)}
               AS avg_price,
           CAST(1 AS INTEGER) AS n_net_feeds,
           CAST(1 AS INTEGER) AS n_granular_feeds
    FROM final
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# lakehouse_daily_report: the identical daily report computed straight
# off the raw events parquet with the ts band as a WHERE clause — the
# Spark side routes through a versioned day-partitioned table, its
# inline census and the skipping planner, so a hash match
# certifies the whole lakehouse read path end-to-end.
from .queries_olap import LDR_TS_HI as _LDR_HI  # noqa: E402
from .queries_olap import LDR_TS_LO as _LDR_LO  # noqa: E402

OLAP_ORACLES["lakehouse_daily_report"] = f"""
    SELECT CAST(ts AS DATE) AS report_date,
           event_type,
           {_hs_round(_davg('value'), 4)} AS avg_rate,
           count(*) AS n_ticks
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{_LDR_LO}' AND TIMESTAMP '{_LDR_HI}'
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

# evolved_layout_pruned_read: the evolved landing + census pruning of
# the whole pre-cutover layout must be value-invisible — the oracle is
# the identical report straight off the raw events parquet with the
# band as a WHERE clause.
from .queries_olap import ELP_TS_HI as _ELP_HI  # noqa: E402
from .queries_olap import ELP_TS_LO as _ELP_LO  # noqa: E402

OLAP_ORACLES["evolved_layout_pruned_read"] = f"""
    SELECT CAST(ts AS DATE) AS report_date,
           event_type,
           count(*) AS n_events,
           {_round(_dsum('value'), 2)} AS sum_value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{_ELP_LO}' AND TIMESTAMP '{_ELP_HI}'
    GROUP BY 1, 2
    ORDER BY 1, 2
"""
