"""Query registry: every implemented operator exposed under the driver
contract (__spark_entry__.py), paired with its ANSI-SQL oracle.

Each entry: name -> (builder, oracle_sql | None). Builders take
(spark, sf_dir) and return a lazy DataFrame. Oracles run on DuckDB
1.0.0 over the same parquet (views: region nation customer supplier
part orders lineitem events documents embeddings). Names/aliases match
column-for-column — the driver sorts columns by name before hashing.

Ops DuckDB cannot express (WKB geometry kernels, Hilbert layout,
streaming) carry oracle=None → rows-only driver check + engine-internal
golden tests under tests/.

Oracles are resolved on first read, so importing this module does no
fixture I/O. Many oracle builders generate the fixture files they name
(media, building sets, FileGDB, shapefiles, the augmented corpus); a
definition below stores either the SQL string, None, or a zero-arg
callable, and ``REGISTRY[name]`` calls that callable once and keeps the
result. A module's ``oracle_sqls()`` pack is built once per process,
when the first of its entries is read.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator, Mapping
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from gis_etl_spark.ops import dedup as D
from gis_etl_spark.ops.fixedpoint import (
    fxavg_sql,
    fxq_sql,
    fxratio_sql,
    fxsum_over_sql,
    fxsum_sql,
)
from gis_etl_spark.ops import geometry_queries as G
from gis_etl_spark.ops import joins as J
from gis_etl_spark.ops import multimodal as M
from gis_etl_spark.ops import relational as R
from gis_etl_spark.ops import similarity as S
from gis_etl_spark.ops import text as T

QueryFn = Callable[[SparkSession, str], DataFrame]
# An oracle as defined: SQL, None (rows-only), or a zero-arg callable
# returning either, resolved on the entry's first read.
Oracle = str | None | Callable[[], str | None]


class _Pack:
    """One module's ``oracle_sqls()`` dict, built on the first read of
    any of its entries. ``pack[name]`` is a zero-arg callable, not SQL."""

    def __init__(self, build: Callable[[], dict[str, str | None]]):
        self.build = build
        self._sqls: dict[str, str | None] | None = None

    def sql(self, name: str) -> str | None:
        if self._sqls is None:
            self._sqls = self.build()
        return self._sqls[name]

    def __getitem__(self, name: str) -> Callable[[], str | None]:
        return partial(self.sql, name)


class _Registry(Mapping):
    """Read-only name -> (builder, oracle_sql | None) over the
    definitions, in definition order; a callable oracle is called on the
    entry's first read and the result kept for later reads."""

    def __init__(self, defs: dict[str, tuple[QueryFn, Oracle]]):
        self._defs = defs
        self._resolved: dict[str, tuple[QueryFn, str | None]] = {}
        # one resolution at a time: oracle builders write fixture files
        self._lock = threading.Lock()

    def __getitem__(self, name: str) -> tuple[QueryFn, str | None]:
        with self._lock:
            if name not in self._resolved:
                builder, oracle = self._defs[name]
                if callable(oracle):
                    oracle = oracle()
                self._resolved[name] = (builder, oracle)
            return self._resolved[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self._defs)

    def __len__(self) -> int:
        return len(self._defs)


# ---------------------------------------------------------------------------
# Relational pack (SURVEY.md §2.3/2.4/2.5/2.7/2.8) — all oracle-checked.
# ---------------------------------------------------------------------------

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {fxsum_sql("l_quantity")} AS sum_qty,
       {fxsum_sql("l_extendedprice")} AS sum_base_price,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {fxsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {fxavg_sql("l_quantity")} AS avg_qty,
       {fxavg_sql("l_extendedprice")} AS avg_price,
       {fxavg_sql("l_discount")} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

_Q5_SQL = f"""
SELECT n_name,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""

_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

_COUNT_SQL = "SELECT count(*) AS cnt FROM lineitem"

_GROUP_COUNT_SQL = """
SELECT o_orderpriority, count(*) AS cnt
FROM orders GROUP BY o_orderpriority
ORDER BY cnt ASC, o_orderpriority ASC
"""

_COUNT_DISTINCT_SQL = (
    "SELECT count(DISTINCT o_custkey) AS n_customers FROM orders"
)

_MINMAX_SQL = """
SELECT min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
       strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
       round(max(o_totalprice * 0.1), 4) AS max_price_tenth
FROM orders
"""

_TOP15_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15
"""

_FILTER_RANGE_SQL = """
SELECT event_id, user_id, value
FROM events
WHERE value > 50.0 AND value < 150.0 AND event_type = 'click'
"""

_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""

_SEMI_JOIN_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45.0)
"""

_UNION_SQL = """
SELECT r_name AS name, 'region' AS src FROM region
UNION ALL
SELECT n_name AS name, 'nation' AS src FROM nation
"""

_EXCEPT_SQL = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
"""

_WINDOW_TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) t WHERE rn <= 3
"""

_RUNNING_SQL = f"""
SELECT user_id, event_id,
       {fxsum_over_sql(
           "value",
           "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)",
       )} AS running_value
FROM events
"""

_HOURLY_SQL = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       {fxsum_sql("value")} AS total_value
FROM events GROUP BY 1, 2
"""

_SESSION_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, value,
         -- ::BIGINT: DuckDB's sum(INT) yields HUGEINT, which pandas renders as
         -- float64 and breaks the driver's value-hash vs Spark's LONG.
         (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM gaps
)
SELECT user_id, session_seq, count(*) AS n_events,
       {fxsum_sql("value")} AS session_value
FROM sessions GROUP BY user_id, session_seq
"""

_ROLLUP_SQL = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS cnt,
       {fxsum_sql("l_quantity")} AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

_Q6_SQL = f"""
SELECT {fxsum_sql("l_extendedprice * l_discount")} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""

_Q14_SQL = f"""
SELECT {fxsum_sql(
    "CASE WHEN p_type LIKE 'PROMO%' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
)} AS promo_revenue,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
"""

_Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {fxsum_sql("l_quantity")} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {fxsum_sql("l_quantity")} > 200
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 30
"""

_PIVOT_SQL = """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'F') AS status_f,
       count(*) FILTER (WHERE l_linestatus = 'O') AS status_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

_CUBE_SQL = f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS cnt,
       {fxsum_sql("o_totalprice")} AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

_YEAR_MONTH_SQL = f"""
SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
       count(*) AS cnt, {fxavg_sql("o_totalprice")} AS avg_price
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""

_SOURCE_EXTRACT_SQL = """
SELECT doc_id,
       regexp_extract(source, '(\\d+)', 1)::INT AS src_num,
       split_part(source, 'c', 1) AS prefix,
       length(text) AS text_len
FROM documents
WHERE regexp_extract(source, '(\\d+)', 1)::INT % 3 = 0
"""

_Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::INT AS l_year,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

_Q8_SQL = f"""
SELECT year(o_orderdate)::INT AS o_year,
       {fxratio_sql(
    "CASE WHEN ns.n_name = 'NATION_9' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
    "l_extendedprice * (1 - l_discount)",
)} AS mkt_share
FROM lineitem
JOIN part      ON l_partkey = p_partkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region    ON nc.n_regionkey = r_regionkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY 1 ORDER BY 1
"""

_Q9_SQL = f"""
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2 ORDER BY 1, 2
"""

_Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""

_Q19_SQL = f"""
SELECT {fxsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""

_Q22_SQL = f"""
SELECT c_mktsegment, count(*) AS n_custs, {fxsum_sql("c_acctbal")} AS total_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

_Q2_SQL = """
SELECT s_suppkey, s_name, n_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                   WHERE s2.s_nationkey = supplier.s_nationkey)
ORDER BY s_suppkey
"""

# name -> (builder, oracle); wrapped read-only at the end of the module
REGISTRY: dict[str, tuple[QueryFn, Oracle]] = {
    "q2_top_acctbal_per_nation": (R.q2_top_acctbal_per_nation, _Q2_SQL),
    "q4_order_priority": (R.q4_order_priority, _Q4_SQL),
    "q7_volume_shipping": (R.q7_volume_shipping, _Q7_SQL),
    "q8_market_share": (R.q8_market_share, _Q8_SQL),
    "q9_profit_by_nation_year": (R.q9_profit_by_nation_year, _Q9_SQL),
    "q15_top_supplier": (R.q15_top_supplier, _Q15_SQL),
    "q19_disjunctive_revenue": (R.q19_disjunctive_revenue, _Q19_SQL),
    "q22_idle_customers": (R.q22_idle_customers, _Q22_SQL),
    "q6_forecast_revenue": (R.q6_forecast_revenue, _Q6_SQL),
    "q14_promo_revenue": (R.q14_promo_revenue, _Q14_SQL),
    "price_percentiles": (R.price_percentiles, """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       count(*) AS n
FROM lineitem GROUP BY 1 ORDER BY 1
"""),
    "q18_large_orders": (R.q18_large_orders, _Q18_SQL),
    "pivot_status_by_flag": (R.pivot_status_by_flag, _PIVOT_SQL),
    "cube_orders": (R.cube_orders, _CUBE_SQL),
    "orders_by_year_month": (R.orders_by_year_month, _YEAR_MONTH_SQL),
    "source_id_extract": (R.source_id_extract, _SOURCE_EXTRACT_SQL),
    "q1_pricing_summary": (R.q1_pricing_summary, _Q1_SQL),
    "q3_shipping_priority": (R.q3_shipping_priority, _Q3_SQL),
    "q5_local_supplier_volume": (R.q5_local_supplier_volume, _Q5_SQL),
    "q10_returned_items": (R.q10_returned_items, _Q10_SQL),
    "count_lineitem": (R.count_lineitem, _COUNT_SQL),
    "group_count_order_priority": (R.group_count_order_priority, _GROUP_COUNT_SQL),
    "count_distinct_customers": (R.count_distinct_customers, _COUNT_DISTINCT_SQL),
    "minmax_orders": (R.minmax_orders, _MINMAX_SQL),
    "orders_top15_by_price": (R.orders_top15_by_price, _TOP15_SQL),
    "filter_range_events": (R.filter_range_events, _FILTER_RANGE_SQL),
    "customers_without_orders": (R.customers_without_orders, _ANTI_JOIN_SQL),
    "suppliers_with_shipments": (R.suppliers_with_shipments, _SEMI_JOIN_SQL),
    "union_all_names": (R.union_all_names, _UNION_SQL),
    "custkeys_without_recent_orders": (R.custkeys_without_recent_orders, _EXCEPT_SQL),
    "top3_orders_per_customer": (R.top3_orders_per_customer, _WINDOW_TOP3_SQL),
    "running_value_per_user": (R.running_value_per_user, _RUNNING_SQL),
    "events_hourly_rollup": (R.events_hourly_rollup, _HOURLY_SQL),
    "sessionize_events": (R.sessionize_events, _SESSION_SQL),
    "rollup_returnflag_linestatus": (R.rollup_returnflag_linestatus, _ROLLUP_SQL),
    # rows-only: HLL sketch internals differ per engine; the exact twin
    # (count_distinct_customers) is oracle-checked and pytest bounds
    # the approximation error
    "approx_distinct_customers": (R.approx_distinct_customers, None),
    # the deterministic engine-portable sketch twin: KMV over 60-bit
    # md5 hashes — identical arithmetic both engines, so unlike the
    # HLL entry above this one hash-matches exactly
    "kmv_distinct_customers": (
        R.kmv_distinct_customers, R.KMV_DISTINCT_SQL,
    ),
    # same engine-portable-sketch idea for quantiles: deterministic
    # 1/16 hash sample + exact integer-rank quartiles — no
    # interpolation, every output is a data value, bit-exact on both
    # engines (the t-digest/GK internals a built-in approx percentile
    # would use differ per engine and would force a rows-only check)
    "sampled_price_quantiles": (
        R.sampled_price_quantiles, R.SAMPLED_QUANTILES_SQL,
    ),
    "orders_with_heavy_items_sql": (R.orders_with_heavy_items_sql, """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 48
)
"""),
    "orders_above_avg_sql": (R.orders_above_avg_sql, """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
"""),
    "sessionize_native": (R.sessionize_native, f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS seq
  FROM gaps
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%g') AS session_start,
       count(*) AS n_events,
       {fxsum_sql("value")} AS session_value
FROM sessions GROUP BY user_id, seq
"""),
    # exact semi-join behind an explicit SBBF Bloom pre-prune; the oracle
    # is the PLAIN semi-join — a hash match proves the Bloom+verify
    # composition drops zero true rows and keeps zero false positives
    "bloom_semi_orders": (R.bloom_semi_orders, f"""
SELECT o_orderpriority, count(*) AS n_orders,
       {fxsum_sql("o_totalprice")} AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'AUTOMOBILE')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""),
    # interval-dim lookup (range_lookup_join): the oracle runs the naive
    # non-equi join the operator replaces
    "price_band_revenue": (R.price_band_revenue, f"""
WITH bands(band_label, band_lo, band_hi) AS (VALUES
  ('nano', 0.0, 25000.0), ('small', 25000.0, 75000.0),
  ('mid', 75000.0, 150000.0), ('large', 150000.0, 300000.0),
  ('jumbo', 300000.0, 1000000000.0))
SELECT band_label, count(*) AS n_orders,
       {fxsum_sql("o_totalprice")} AS revenue
FROM orders JOIN bands
  ON o_totalprice >= band_lo AND o_totalprice < band_hi
GROUP BY band_label ORDER BY band_label
"""),
    "events_sliding_windows": (R.events_sliding_windows, f"""
WITH assigned AS (
  SELECT unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         event_type, value
  FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       count(*) AS n_events,
       {fxsum_sql("value")} AS total_value
FROM assigned GROUP BY 1, 2
"""),
}

# ---------------------------------------------------------------------------
# Geometry pack (SURVEY.md §2.1/2.3/2.5/2.9 spatial operators) over the
# deterministic buildings fixture; oracles check byte arithmetic directly
# and WKB-kernel results against the independent golden table.
# ---------------------------------------------------------------------------

_GEO_SQLS = _Pack(G.oracle_sqls)

REGISTRY.update(
    {
        "geo_total_count": (G.geo_total_count, _GEO_SQLS["geo_total_count"]),
        "geo_distinct_sources": (
            G.geo_distinct_sources, _GEO_SQLS["geo_distinct_sources"],
        ),
        "geo_shape_type_census": (
            G.geo_shape_type_census, _GEO_SQLS["geo_shape_type_census"],
        ),
        "geo_core_type_count": (
            G.geo_core_type_count, _GEO_SQLS["geo_core_type_count"],
        ),
        "geo_source_counts": (
            G.geo_source_counts, _GEO_SQLS["geo_source_counts"],
        ),
        "geo_area_stats": (G.geo_area_stats, _GEO_SQLS["geo_area_stats"]),
        # ST_DISTANCE_SPHERE: shared-text haversine, floor-metres
        "geo_haversine_span": (
            G.geo_haversine_span, _GEO_SQLS["geo_haversine_span"],
        ),
        # single-linkage spatial clustering: shared min-label fixpoint
        # vs the oracle's recursive-CTE transitive closure
        "geo_spatial_clusters": (
            G.geo_spatial_clusters, _GEO_SQLS["geo_spatial_clusters"],
        ),
        "geo_tile_census": (G.geo_tile_census, _GEO_SQLS["geo_tile_census"]),
        "geo_geohash_census": (
            G.geo_geohash_census, _GEO_SQLS["geo_geohash_census"],
        ),
        # r10: oracle-paired — the OUTPUT GEOMETRY still has no ANSI
        # twin, but the reported vertex counts do: bounded DP
        # recursion unrolled into chained interval stages + an
        # extreme-point hull census over the golden vertex table
        "geo_simplify_stats": (
            G.geo_simplify_stats, _GEO_SQLS["geo_simplify_stats"],
        ),
        "io_geojsonl_scan": (
            G.io_geojsonl_scan, _GEO_SQLS["io_geojsonl_scan"],
        ),
        "geo_centroid_stats": (
            G.geo_centroid_stats, _GEO_SQLS["geo_centroid_stats"],
        ),
        "geo_global_bbox": (G.geo_global_bbox, _GEO_SQLS["geo_global_bbox"]),
        "geo_flip_sources": (
            G.geo_flip_sources, _GEO_SQLS["geo_flip_sources"],
        ),
        "geo_heatmap": (G.geo_heatmap, _GEO_SQLS["geo_heatmap"]),
        "hex_heatmap": (G.hex_heatmap, _GEO_SQLS["hex_heatmap"]),
        "hex_heatmap_pyramid": (
            G.hex_heatmap_pyramid, _GEO_SQLS["hex_heatmap_pyramid"],
        ),
        "hex_heatmap_smoothed": (
            G.hex_heatmap_smoothed, _GEO_SQLS["hex_heatmap_smoothed"],
        ),
        "geo_heatmap_pyramid": (
            G.geo_heatmap_pyramid, _GEO_SQLS["geo_heatmap_pyramid"],
        ),
        "geo_normalized_bbox": (
            G.geo_normalized_bbox, _GEO_SQLS["geo_normalized_bbox"],
        ),
        # rows-only: DuckDB 1.0.0 has no Hilbert/lindel and cannot
        # reproduce boundary-string formatting bit-for-bit
        "gdb_scan_attrs": (G.gdb_scan_attrs, _GEO_SQLS["gdb_scan_attrs"]),
        "gpkg_heatmap_roundtrip": (
            G.gpkg_heatmap_roundtrip, _GEO_SQLS["gpkg_heatmap_roundtrip"],
        ),
        "gdb_scan_oids": (G.gdb_scan_oids, _GEO_SQLS["gdb_scan_oids"]),
        "geo_heatmap_export": (
            G.geo_heatmap_export, _GEO_SQLS["geo_heatmap_export"],
        ),
        "geo_centroid_containment": (
            G.geo_centroid_containment,
            _GEO_SQLS["geo_centroid_containment"],
        ),
        "hex_heatmap_export": (
            G.hex_heatmap_export, _GEO_SQLS["hex_heatmap_export"],
        ),
        # r8: oracle-paired — Skilling transform unrolled in SQL over
        # the golden centroid table (was rows-only "oracle lacks
        # lindel"; lindel parity stays a non-goal, the oracle is the
        # published algorithm itself)
        "geo_hilbert_keys": (
            G.geo_hilbert_keys,
            _GEO_SQLS["geo_hilbert_keys"],
        ),
        # r10: oracle-paired — Snyder inverse-TM unrolled in SQL over
        # the golden ring-edge vertices (was rows-only "oracle cannot
        # reproject UTM"; the hilbert/gnomonic unroll precedent)
        "geo_convert_bbox": (
            G.geo_convert_bbox, _GEO_SQLS["geo_convert_bbox"],
        ),
        "io_ndjson_shape_stats": (
            G.io_ndjson_shape_stats, _GEO_SQLS["io_ndjson_shape_stats"],
        ),
        "io_csv_wkt_scan": (G.io_csv_wkt_scan, _GEO_SQLS["io_csv_wkt_scan"]),
        "io_wide_attrs_projection": (
            G.io_wide_attrs_projection, _GEO_SQLS["io_wide_attrs_projection"],
        ),
        "layout_morton_keys": (
            G.layout_morton_keys, _GEO_SQLS["layout_morton_keys"],
        ),
        "shp_scan_census": (G.shp_scan_census, _GEO_SQLS["shp_scan_census"]),
    }
)

# ---------------------------------------------------------------------------
# Temporal/spatial join pack (ops/joins.py): as-of, interval range join,
# radius near-pairs — inequality-free plan shapes, all oracle-checked
# (DuckDB runs the native ASOF / IEJoin formulations).
# ---------------------------------------------------------------------------

_JOIN_SQLS = _Pack(J.oracle_sqls)

REGISTRY.update(
    {
        "asof_click_view": (J.asof_click_view, _JOIN_SQLS["asof_click_view"]),
        "interval_error_activity": (
            J.interval_error_activity, _JOIN_SQLS["interval_error_activity"],
        ),
        "spatial_near_pairs": (
            J.spatial_near_pairs, _JOIN_SQLS["spatial_near_pairs"],
        ),
        # radius-bounded 1-NN join: grid candidates → min(struct) argmin
        "spatial_nearest_neighbor": (
            J.spatial_nearest_neighbor,
            _JOIN_SQLS["spatial_nearest_neighbor"],
        ),
        # rows-only: DuckDB 1.0 has no spatial predicate for a twin
        # r8: oracle-paired — the buildings_edges side-table lets
        # DuckDB run the bbox join + even-odd kernel itself
        "points_in_polygons": (
            J.points_in_polygons, _GEO_SQLS["points_in_polygons"],
        ),
    }
)

# ---------------------------------------------------------------------------
# Text-analysis pack [north-star]: lang-id, quality scoring, token
# counting, fingerprinting over `documents` — all oracle-checked.
# ---------------------------------------------------------------------------

_TEXT_SQLS = _Pack(T.oracle_sqls)

REGISTRY.update(
    {
        "text_token_stats": (T.text_token_stats, _TEXT_SQLS["text_token_stats"]),
        # BPE-ish regex pre-tokenizer counts (lookahead-free GPT-2
        # subset, identical in Java regex and RE2) vs whitespace
        "regex_token_stats": (
            T.regex_token_stats, _TEXT_SQLS["regex_token_stats"],
        ),
        "text_quality_scores": (
            T.text_quality_scores, _TEXT_SQLS["text_quality_scores"],
        ),
        "lang_id": (T.lang_id, _TEXT_SQLS["lang_id"]),
        "doc_fingerprints": (T.doc_fingerprints, _TEXT_SQLS["doc_fingerprints"]),
        "token_stats_by_lang": (
            T.token_stats_by_lang, _TEXT_SQLS["token_stats_by_lang"],
        ),
        "top_tokens": (T.top_tokens, _TEXT_SQLS["top_tokens"]),
        # r10: Misra-Gries candidates + exact verify (ops/scale.py) —
        # relative-threshold heavy hitters with bounded task state
        "heavy_hitter_tokens": (
            T.heavy_hitter_tokens, _TEXT_SQLS["heavy_hitter_tokens"],
        ),
        # r10: Efraimidis–Spirakis weighted WOR sampling — hash-u
        # deterministic, TakeOrdered top-n (never a global sort)
        "weighted_sample_docs": (
            T.weighted_sample_docs, T.weighted_sample_sql,
        ),
        # RAG/training chunking: overlapping token windows, content-md5
        # chunk identity — the oracle re-derives every window by list
        # slicing, so a hash match pins offsets, sizes, AND chunk text
        "document_chunks": (T.document_chunks, _TEXT_SQLS["document_chunks"]),
        # chunk-level exact dedup composed on document_chunks: identical
        # windows anywhere in the corpus collapse to a deterministic
        # (min doc_id, min chunk_idx) keeper — C4-style boilerplate kill
        "chunk_dedup_groups": (
            T.chunk_dedup_groups, _TEXT_SQLS["chunk_dedup_groups"],
        ),
        "tfidf_top_terms": (T.tfidf_top_terms, _TEXT_SQLS["tfidf_top_terms"]),
        # token→docs champion lists (Manning IR §7.1.3): flat
        # (token, rank) rows so the value hash pins every posting
        "inverted_index_topk": (
            T.inverted_index_topk, _TEXT_SQLS["inverted_index_topk"],
        ),
        # r14: BM25 query scoring over the postings — the serving rung
        # above the champion-list index; fixedpoint score units,
        # deterministic two-term queries from the top corpus tokens
        "bm25_topk": (T.bm25_topk, T.bm25_topk_sql),
        # r15: WAND-style champion-list pruning — registered against
        # the SAME oracle as bm25_topk, so the hash match is the
        # equality proof that pruning changes nothing (the
        # mixture_draw_split pattern)
        "bm25_topk_pruned": (T.bm25_topk_pruned, T.bm25_topk_sql),
        # r15: served from the PERSISTED impact-ordered index (scored
        # postings + champion ranks stored at build time) — same
        # oracle again: the hash match pins stored == fresh
        "bm25_topk_stored": (T.bm25_topk_stored, T.bm25_topk_sql),
        # r15: frozen-stats staleness monitor for the stored index —
        # the text analog of ann_drift_stat; the Spark side reads the
        # STORED stats table, the oracle re-derives it from the base
        # corpus, so the hash match pins the artifact too
        "bm25_stats_drift": (T.bm25_stats_drift, T.bm25_stats_drift_sql),
        # r15: delta-overlay serving under the gate — stored index ∪
        # in-plan frozen-stats increment vs an oracle that re-derives
        # the frozen stats and full-scores the augmented corpus
        "bm25_topk_after_append": (
            T.bm25_topk_after_append,
            T.bm25_topk_after_append_sql,
        ),
        "stratified_sample": (T.stratified_sample, T.stratified_sample_sql),
        # r11: Count-Min Sketch with exact-verified point queries —
        # the frequency member of the sketch family (KMV/MG/quantiles)
        "cms_token_counts": (T.cms_token_counts, T.cms_token_counts_sql),
        # r11: tokenizer fertility per language (subwords/word) — the
        # over-segmentation audit; same trained merges as segment stats
        "bpe_fertility_by_lang": (
            T.bpe_fertility_by_lang, T.bpe_fertility_by_lang_sql,
        ),
        # benchmark decontamination: eval-set 5-gram overlap audit
        "decontaminate_overlap": (
            T.decontaminate_overlap, _TEXT_SQLS["decontaminate_overlap"],
        ),
        # r11: the same audit at CHUNK granularity — what a pipeline
        # actually blocks on; oracle composed from the two verified
        # parent CTEs (chunk windows × eval shingles)
        "chunk_decontaminate": (
            T.chunk_decontaminate, T.CHUNK_DECON_SQL,
        ),
        # PII redaction-gate scan (emails / phone- / SSN-shaped tokens)
        "pii_scan": (T.pii_scan, _TEXT_SQLS["pii_scan"]),
        # Gopher rule-set quality flags (Rae et al. 2021 §A1.1)
        "text_gopher_flags": (
            T.text_gopher_flags, _TEXT_SQLS["text_gopher_flags"],
        ),
        # Gopher-family repetition filter (duplicate-trigram fraction)
        "text_repetition": (T.text_repetition, T.text_repetition_sql),
        # domain-mixture resampling toward a uniform language mixture
        "mixture_sample": (T.mixture_sample, T.mixture_sample_sql),
        "source_cap_sample": (T.source_cap_sample, T.source_cap_sample_sql),
        "text_unigram_surprisal": (
            T.text_unigram_surprisal, T.text_unigram_surprisal_sql,
        ),
        # BPE (Sennrich et al. 2016): the trainer itself is a contract
        # query — the oracle retrains every merge in unrolled SQL
        "bpe_train_merges": (T.bpe_train_merges, T.bpe_train_merges_sql),
        "bpe_segment_stats": (T.bpe_segment_stats, T.bpe_segment_stats_sql),
        # deterministic export sharding (content-hash shard manifest)
        "training_shards": (T.training_shards, T.training_shards_sql),
        # concat-and-chunk sequence packing (GPT-style pretraining layout)
        "sequence_pack": (T.sequence_pack, T.sequence_pack_sql),
        "dedup_embedding_pairs": (
            T.dedup_embedding_pairs, _TEXT_SQLS["dedup_embedding_pairs"],
        ),
        # exact global NTILE(10) without a single-partition sort; the
        # oracle runs the textbook ntile window
        "quality_deciles": (T.quality_deciles, T.quality_deciles_sql),
    }
)

# ---------------------------------------------------------------------------
# CDC / changelog pack [beyond-reference]: latest-state compaction and
# SCD2 interval build, plus exact-int64 PageRank over the trade graph.
# ---------------------------------------------------------------------------

from gis_etl_spark.ops import cdc as C  # noqa: E402
from gis_etl_spark.ops import corpus as CB  # noqa: E402
from gis_etl_spark.ops import graph as GR  # noqa: E402

REGISTRY.update(
    {
        # ONE partially-aggregated max(struct) vs the oracle's
        # row_number window — same 'latest change per key'
        "cdc_latest_state": (C.cdc_latest_state, C.cdc_latest_state_sql),
        "scd2_intervals": (C.scd2_intervals, C.scd2_intervals_sql),
        # r14: MERGE INTO semantics — one changelog batch of
        # insert/update/delete applied to a base snapshot in one plan
        # (anti-join on touched keys + union of new payloads)
        "cdc_merge_apply": (C.cdc_merge_apply, C.cdc_merge_apply_sql),
        # r15: ordered multi-batch MERGE — last-writer-wins compaction
        # (max-struct on batch_id) composed with one merge; the oracle
        # compacts with the textbook window argmax instead, so the
        # hash match also pins the max-struct == window equivalence
        "cdc_merge_apply_log": (
            C.cdc_merge_apply_log,
            C.cdc_merge_apply_log_sql,
        ),
        # 3 unrolled iterations, every rank an exact int64 — the
        # iterative-algorithm-on-Spark shape with a hash-checkable result
        "pagerank_trade": (GR.pagerank_trade, GR.pagerank_trade_sql),
        # degree-ordered triangle census over the deterministically
        # sparsified (top 5·|V| by shared-customer count) co-purchase
        # similarity graph — wedge volume m·sqrt(2m), never Σ deg²
        "copurchase_triangles": (
            GR.copurchase_triangles, GR.copurchase_triangles_sql,
        ),
    }
)

# ---------------------------------------------------------------------------
# Dedup pack [north-star]: exact, MinHash+LSH, SimHash, n-gram Jaccard
# over the duplicates-injected documents fixture — all oracle-checked.
# ---------------------------------------------------------------------------

_DEDUP_SQLS = _Pack(D.oracle_sqls)

REGISTRY.update(
    {
        "dedup_exact_groups": (
            D.dedup_exact_groups, _DEDUP_SQLS["dedup_exact_groups"],
        ),
        "dedup_exact_kept": (
            D.dedup_exact_kept, _DEDUP_SQLS["dedup_exact_kept"],
        ),
        "dedup_minhash_pairs": (
            D.dedup_minhash_pairs, _DEDUP_SQLS["dedup_minhash_pairs"],
        ),
        # r11: fuzzy decontamination — the bipartite MinHash variant
        # (corpus band keys probe the BROADCAST eval side; catches
        # paraphrased eval leaks the exact 5-gram audit misses)
        "fuzzy_decontaminate": (
            D.fuzzy_decontaminate, _DEDUP_SQLS["fuzzy_decontaminate"],
        ),
        # r11: leakage-safe split assignment — hash-bucket BY near-dup
        # component so paraphrases never straddle train/eval; audits
        # component vs naive per-doc hashing side by side
        "leakage_safe_splits": (
            D.leakage_safe_splits, _DEDUP_SQLS["leakage_safe_splits"],
        ),
        # pair graph → duplicate clusters (fixpoint label propagation
        # vs the oracle's recursive-CTE transitive closure)
        "dedup_components": (
            D.dedup_components, _DEDUP_SQLS["dedup_components"],
        ),
        "dedup_simhash_pairs": (
            D.dedup_simhash_pairs, _DEDUP_SQLS["dedup_simhash_pairs"],
        ),
        "dedup_ngram_jaccard_pairs": (
            D.dedup_ngram_jaccard_pairs, _DEDUP_SQLS["dedup_ngram_jaccard_pairs"],
        ),
        # end-to-end prep funnel: quality gate → exact dedup → MinHash
        # near-dedup → per-lang audit, one lazy plan, SQL twin composed
        # from the same verified pieces
        # r10: deletion-neighborhood ED≤1 similarity join — the engine
        # runs the Pass-Join candidate plan; the oracle is the brute
        # all-pairs levenshtein the engine exists to avoid
        "customer_name_ed1_pairs": (
            D.customer_name_ed1_pairs, D.CUSTOMER_ED1_SQL,
        ),
        "training_data_prep": (D.training_data_prep, D.training_data_prep_sql),
        "dedup_spans": (D.dedup_spans, D.dedup_spans_sql),
        "training_data_prep_v2": (
            D.training_data_prep_v2, D.training_data_prep_v2_sql,
        ),
    }
)

# ---------------------------------------------------------------------------
# Similarity pack [north-star]: brute-force top-k, exact near-pairs,
# relational LSH ANN, label centroids — all oracle-checked.
# ---------------------------------------------------------------------------

_SIM_SQLS = _Pack(S.oracle_sqls)

REGISTRY.update(
    {
        "similarity_topk": (S.similarity_topk, _SIM_SQLS["similarity_topk"]),
        "similarity_near_pairs": (
            S.similarity_near_pairs, _SIM_SQLS["similarity_near_pairs"],
        ),
        "similarity_ann_lsh": (
            S.similarity_ann_lsh, _SIM_SQLS["similarity_ann_lsh"],
        ),
        # production-path semantic dedup: banded LSH self-join (the
        # gated all-pairs twin is dedup_embedding_pairs in ops/text.py)
        "dedup_embedding_lsh": (
            S.dedup_embedding_lsh, _SIM_SQLS["dedup_embedding_lsh"],
        ),
        # skew-guard audit: per-band bucket stats + what the cap dropped
        "dedup_embedding_lsh_audit": (
            S.dedup_embedding_lsh_audit,
            _SIM_SQLS["dedup_embedding_lsh_audit"],
        ),
        "similarity_ivf": (S.similarity_ivf, _SIM_SQLS["similarity_ivf"]),
        # trained-codebook IVF: the oracle embeds the independently
        # (sequentially) trained reference codebook as literals — a
        # hash match proves distributed Lloyd reached the same model
        "similarity_ivf_kmeans": (
            S.similarity_ivf_kmeans, S.ivf_kmeans_oracle_sql,
        ),
        "embedding_label_centroids": (
            S.embedding_label_centroids, _SIM_SQLS["embedding_label_centroids"],
        ),
        # product quantization (Jégou et al. 2011): the oracle retrains
        # all PQ_M per-subspace codebooks in unrolled SQL, so a hash
        # match verifies training + encoding + ADC retrieval end-to-end
        "similarity_pq_adc": (S.similarity_pq_adc, S.pq_adc_oracle_sql),
        "similarity_pq_rerank": (
            S.similarity_pq_rerank, S.pq_rerank_oracle_sql,
        ),
        # IVFADC proper (coarse k-means + PQ on residuals): the oracle
        # retrains BOTH quantizer levels in unrolled SQL
        "similarity_ivfpq": (S.similarity_ivfpq, S.ivfpq_oracle_sql),
        "embedding_dim_stats": (
            S.embedding_dim_stats, S.embedding_dim_stats_sql,
        ),
        # r10: scalar int8 quantization audit — exact code checksums
        # + fixed-point reconstruction error per dimension
        "embedding_int8_stats": (
            S.embedding_int8_stats, S.embedding_int8_stats_sql,
        ),
        # r11: serve ANN from those int8 codes — ADC distance tables
        # on codes (exact int64 sums), exact-L2 rerank on the
        # shortlist only; the oracle re-quantizes and re-ranks in SQL
        "similarity_int8_adc": (
            S.similarity_int8_adc, S.int8_adc_oracle_sql,
        ),
        # SemDeDup (Abbas et al. 2023): cluster-then-dedup on the SAME
        # trained codebook as similarity_ivf_kmeans; the oracle retrains
        # the codebook and re-derives every intra-cluster keep/drop
        "semdedup": (S.semdedup, S.semdedup_oracle_sql),
        # r14: the always-on rebuild-trigger monitor — per-list int64
        # fixedpoint quantization error of the training corpus vs a
        # drifted batch against the FROZEN codebook (SCALE.md's
        # operating rule, quantified as a contract query)
        "ann_drift_stat": (S.ann_drift_stat, S.ann_drift_oracle_sql),
    }
)

# ---------------------------------------------------------------------------
# Multimodal pack [north-star]: binary payload columns + typed metadata;
# decode verified against stored columns, features rows-only.
# ---------------------------------------------------------------------------

_MM_SQLS = _Pack(M.oracle_sqls)

REGISTRY.update(
    {
        "multimodal_decode_meta": (
            M.multimodal_decode_meta, _MM_SQLS["multimodal_decode_meta"],
        ),
        "multimodal_frame_sample": (
            M.multimodal_frame_sample, _MM_SQLS["multimodal_frame_sample"],
        ),
        # content-exact decode: numpy BMP/WAV decoders checksummed
        # against goldens the fixture's independent encoder stored
        "multimodal_features": (
            M.multimodal_features, _MM_SQLS["multimodal_features"],
        ),
        # decode + 2x nearest-neighbor resize/decimate vs pre-encode goldens
        "multimodal_resize": (
            M.multimodal_resize, _MM_SQLS["multimodal_resize"],
        ),
        # r15: oracle-paired (was rows-only since r6 — "hash-seeded
        # kernel"): the featurizer is now a twinnable integer hash,
        # re-derived wholesale in the DuckDB twin with pinned-order
        # float folds; fixedpoint L1 rollup (VERDICT r14 item 8)
        "multimodal_feature_norms": (
            M.multimodal_feature_norms,
            _MM_SQLS["multimodal_feature_norms"],
        ),
        # rows-only: FFT has no ANSI oracle; pytest pins DC == exact
        # sample sum (independent decode) + Parseval per clip
        # r10: oracle-paired — the FFT isn't SQL-expressible but its
        # definition is: direct O(n²) DFT over the golden mono-sample
        # side-table (was rows-only since r4)
        "multimodal_spectral": (
            M.multimodal_spectral, _MM_SQLS["multimodal_spectral"],
        ),
        # perceptual image dedup: decode → integer aHash → group; the
        # oracle reads the encoder's independently-computed golden
        "multimodal_ahash_groups": (
            M.multimodal_ahash_groups,
            _MM_SQLS["multimodal_ahash_groups"],
        ),
        # banded Hamming near-pairs over the hash — pigeonhole-exact
        "multimodal_ahash_near_pairs": (
            M.multimodal_ahash_near_pairs,
            _MM_SQLS["multimodal_ahash_near_pairs"],
        ),
        # r6: per-container-format decode proof — the fmt='jpg' row
        # scores the baseline JPEG decoder (ops/jpeg.py) on its own
        "multimodal_image_formats": (
            M.multimodal_image_formats,
            _MM_SQLS["multimodal_image_formats"],
        ),
    }
)

# ---------------------------------------------------------------------------
# H3 id algebra (published bit layout; join-compat ops for existing
# H3-indexed data — generation itself is import-gated on the h3 lib).
# ---------------------------------------------------------------------------

from gis_etl_spark.layout import h3compat as H3  # noqa: E402

REGISTRY.update(
    {
        "h3_parent_rollup": (H3.h3_parent_rollup, H3.h3_parent_rollup_sql),
    }
)

# --- Round-4 session 2: the remaining TPC-H shapes (22/22 complete) -------
# Q11/Q16/Q17/Q20 adapt around the missing partsupp table (lineitem is
# the part↔supplier bridge) and Q12/Q21 around missing shipmode/commit/
# receipt columns, same precedent as q2/q9. Oracles keep all threshold
# arithmetic in exact fixed-point integers (fxq_sql) so HAVING membership
# can't flip cross-engine; DuckDB BIGINT sums are cast down from HUGEINT
# (the r2 failure class).

_Q11_SQL = f"""
WITH scoped AS (
  SELECT l_partkey, {fxq_sql("l_extendedprice * (1 - l_discount)")} AS q
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
SELECT l_partkey, (CAST(sum(q) AS DOUBLE) / 1e4) AS value
FROM scoped
GROUP BY l_partkey
HAVING CAST(sum(q) AS BIGINT) > 0.001 * (SELECT CAST(sum(q) AS BIGINT) FROM scoped)
ORDER BY value DESC, l_partkey
"""

_Q12_SQL = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_n,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-06-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

_Q17_SQL = f"""
WITH agg AS (
  SELECT l_partkey AS pk,
         CAST(sum({fxq_sql("l_quantity", 2)}) AS BIGINT) AS qty_units,
         count(*) AS n_lines_part
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 20)
  GROUP BY l_partkey)
SELECT ({fxsum_sql("l_extendedprice")} / 7.0) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN agg  ON pk = l_partkey
WHERE p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 20
  AND {fxq_sql("l_quantity", 2)} * n_lines_part * 5 < qty_units
"""

_Q20_SQL = f"""
SELECT s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_9'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING CAST(sum({fxq_sql("l_quantity", 2)}) AS BIGINT) > 100 * 100)
ORDER BY s_name
"""

# Stated in the spec's correlated EXISTS form on purpose: DuckDB
# decorrelates it independently of the engine's distinct-count
# formulation, so the hash match crosschecks two genuinely different
# renderings of the semantics.
_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 15
"""

# Conversion funnel — sequential-pattern (MATCH_RECOGNIZE) shape over
# the events stream; all arithmetic in exact int64 microseconds.
_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), views AS (
  SELECT user_id, min(us) AS view_us FROM ev
  WHERE event_type = 'view' GROUP BY user_id
), clicks AS (
  SELECT e.user_id, v.view_us, min(e.us) AS click_us
  FROM ev e JOIN views v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.us > v.view_us AND e.us <= v.view_us + {R.FUNNEL_WINDOW_US}
  GROUP BY e.user_id, v.view_us
), purchases AS (
  SELECT e.user_id, c.view_us, min(e.us) AS purch_us
  FROM ev e JOIN clicks c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.us > c.click_us AND e.us <= c.click_us + {R.FUNNEL_WINDOW_US}
  GROUP BY e.user_id, c.view_us
), stages AS (
  SELECT '1_view' AS stage, 0::BIGINT AS delta_us FROM views
  UNION ALL
  SELECT '2_click', click_us - view_us FROM clicks
  UNION ALL
  SELECT '3_purchase', purch_us - view_us FROM purchases
)
SELECT stage, count(*)::BIGINT AS n_users,
       (sum(delta_us)::BIGINT // count(*))::BIGINT AS avg_us_from_first_view
FROM stages GROUP BY stage ORDER BY stage
"""

# Rolling-window z-score anomaly flags — exact int64 cross-multiplied
# variance test, identical frame semantics in both engines.
_ANOM_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, value, epoch_us(ts) AS us,
         {fxq_sql("value", 2)} AS q
  FROM events
), stats AS (
  SELECT event_id, user_id, value, q,
         count(q)  OVER w AS n,
         CAST(sum(q)     OVER w AS BIGINT) AS s,
         CAST(sum(q * q) OVER w AS BIGINT) AS ss
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN {R.ANOM_WINDOW} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value, n::BIGINT AS n_window
FROM stats
WHERE n >= {R.ANOM_MIN_N}
  AND (q * n - s) * (q * n - s) * (n - 1)
      > {R.ANOM_Z * R.ANOM_Z} * n * (n * ss - s * s)
ORDER BY event_id
"""

# Cohort retention — integer week bucketing from the epoch, exact in
# both engines; DuckDB // floors like Spark's div for nonnegative us.
_COHORT_SQL = """
WITH ev AS (
  SELECT user_id, (epoch_us(ts) // 604800000000)::BIGINT AS week
  FROM events
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
), pairs AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         (e.week - f.cohort_week)::BIGINT AS weeks_since
  FROM ev e JOIN first f USING (user_id)
), sizes AS (
  SELECT cohort_week, count(*)::BIGINT AS cohort_size
  FROM first GROUP BY cohort_week
)
SELECT p.cohort_week, p.weeks_since,
       count(DISTINCT p.user_id)::BIGINT AS n_active,
       s.cohort_size
FROM pairs p JOIN sizes s USING (cohort_week)
GROUP BY p.cohort_week, p.weeks_since, s.cohort_size
ORDER BY p.cohort_week, p.weeks_since
"""

REGISTRY.update(
    {
        "funnel_events": (R.funnel_events, _FUNNEL_SQL),
        "events_rolling_anomaly": (R.events_rolling_anomaly, _ANOM_SQL),
        "cohort_retention": (R.cohort_retention, _COHORT_SQL),
        # MATCH_RECOGNIZE shape generalized: regex over per-user
        # type-sequence strings, match COUNTS compared cross-engine
        "event_pattern_match": (
            R.event_pattern_match, R.event_pattern_match_sql,
        ),
        # market-basket bipartite projection (item-item co-occurrence)
        "supplier_copurchase_pairs": (
            R.supplier_copurchase_pairs, R.supplier_copurchase_sql,
        ),
        # percent_rank / cume_dist over exact integer spend units
        "customer_spend_rank": (
            R.customer_spend_rank, R.customer_spend_rank_sql,
        ),
        "q11_important_parts": (R.q11_important_parts, _Q11_SQL),
        "q12_priority_by_returnflag": (R.q12_priority_by_returnflag, _Q12_SQL),
        "q13_order_count_distribution": (
            R.q13_order_count_distribution,
            _Q13_SQL,
        ),
        "q16_supplier_part_variety": (R.q16_supplier_part_variety, _Q16_SQL),
        "q17_small_quantity_revenue": (R.q17_small_quantity_revenue, _Q17_SQL),
        "q20_excess_shippers": (R.q20_excess_shippers, _Q20_SQL),
        "q21_waiting_suppliers": (R.q21_waiting_suppliers, _Q21_SQL),
    }
)

# ---------------------------------------------------------------------------
# Registry ordering: the round-1 driver gate scored only the FIRST 50
# dict-order entries (CORRECTNESS_r01.json), leaving the joins/text/
# dedup/similarity/multimodal packs and 17 geo queries without a driver
# row. Rotate the never-scored entries to the front (names and builders
# unchanged) so they fall inside the gate's scoring window; the round-1
# greens follow behind and get re-scored as capacity allows.
# ---------------------------------------------------------------------------

_R1_SCORED = frozenset({
    "q2_top_acctbal_per_nation", "q4_order_priority", "q7_volume_shipping",
    "q8_market_share", "q9_profit_by_nation_year", "q15_top_supplier",
    "q19_disjunctive_revenue", "q22_idle_customers", "q6_forecast_revenue",
    "q14_promo_revenue", "price_percentiles", "q18_large_orders",
    "pivot_status_by_flag", "cube_orders", "orders_by_year_month",
    "source_id_extract", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q10_returned_items", "count_lineitem",
    "group_count_order_priority", "count_distinct_customers",
    "minmax_orders", "orders_top15_by_price", "filter_range_events",
    "customers_without_orders", "suppliers_with_shipments",
    "union_all_names", "custkeys_without_recent_orders",
    "top3_orders_per_customer", "running_value_per_user",
    "events_hourly_rollup", "sessionize_events",
    "rollup_returnflag_linestatus", "approx_distinct_customers",
    "orders_with_heavy_items_sql", "orders_above_avg_sql",
    "sessionize_native", "events_sliding_windows", "geo_total_count",
    "geo_distinct_sources", "geo_shape_type_census", "geo_core_type_count",
    "geo_source_counts", "geo_centroid_stats", "geo_global_bbox",
    "geo_flip_sources", "geo_heatmap", "hex_heatmap",
})

# Round-2 gate window (the 50 names in CORRECTNESS_r02.json).
_R2_SCORED = frozenset({
    "q9_profit_by_nation_year", "sessionize_events", "hex_heatmap_pyramid",
    "hex_heatmap_smoothed", "geo_heatmap_pyramid", "geo_normalized_bbox",
    "gdb_scan_attrs", "gpkg_heatmap_roundtrip", "gdb_scan_oids",
    "geo_heatmap_export", "geo_centroid_containment", "hex_heatmap_export",
    "geo_hilbert_keys", "geo_convert_bbox", "io_ndjson_shape_stats",
    "io_csv_wkt_scan", "io_wide_attrs_projection", "layout_morton_keys",
    "shp_scan_census", "asof_click_view", "interval_error_activity",
    "spatial_near_pairs", "points_in_polygons", "text_token_stats",
    "text_quality_scores", "lang_id", "doc_fingerprints",
    "token_stats_by_lang", "top_tokens", "tfidf_top_terms",
    "stratified_sample", "decontaminate_overlap", "pii_scan",
    "text_gopher_flags", "dedup_embedding_pairs", "dedup_exact_groups",
    "dedup_exact_kept", "dedup_minhash_pairs", "dedup_components",
    "dedup_simhash_pairs", "dedup_ngram_jaccard_pairs", "training_data_prep",
    "similarity_topk", "similarity_near_pairs", "similarity_ann_lsh",
    "dedup_embedding_lsh", "similarity_ivf", "similarity_ivf_kmeans",
    "embedding_label_centroids", "multimodal_decode_meta",
})

# Round-3 gate window (the 50 names in CORRECTNESS_r03.json).
_R3_SCORED = frozenset({
    "multimodal_frame_sample", "multimodal_features", "sessionize_events",
    "stratified_sample", "training_data_prep", "q2_top_acctbal_per_nation",
    "q4_order_priority", "q7_volume_shipping", "q8_market_share",
    "q15_top_supplier", "q19_disjunctive_revenue", "q22_idle_customers",
    "q6_forecast_revenue", "q14_promo_revenue", "price_percentiles",
    "q18_large_orders", "pivot_status_by_flag", "cube_orders",
    "orders_by_year_month", "source_id_extract", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items",
    "count_lineitem", "group_count_order_priority",
    "count_distinct_customers", "minmax_orders", "orders_top15_by_price",
    "filter_range_events", "customers_without_orders",
    "suppliers_with_shipments", "union_all_names",
    "custkeys_without_recent_orders", "top3_orders_per_customer",
    "running_value_per_user", "events_hourly_rollup",
    "rollup_returnflag_linestatus", "approx_distinct_customers",
    "orders_with_heavy_items_sql", "orders_above_avg_sql",
    "sessionize_native", "events_sliding_windows", "geo_total_count",
    "geo_distinct_sources", "geo_shape_type_census", "geo_core_type_count",
    "geo_source_counts", "geo_centroid_stats", "geo_global_bbox",
})

# Round-4 tier 0: the five registry-tail queries that have NEVER had a
# driver CORRECTNESS row (positions 101-105 in the r3 ordering — the gate
# scores only the first 50 dict-order entries per round), followed by the
# three queries whose only driver row dates from round 1. Landing these 8
# in the r4 window completes 105/105 ever-driver-scored.
_TIER0 = (
    "text_repetition",
    "mixture_sample",
    "dedup_embedding_lsh_audit",
    "multimodal_feature_norms",
    "h3_parent_rollup",
    "geo_flip_sources",
    "geo_heatmap",
    "hex_heatmap",
    # new in round 4 — fronted immediately per the ADVICE r3 policy
    # (a new query must enter the next gate window, not the tail)
    "training_shards",
    "sequence_pack",
    "multimodal_resize",
    # round-4 session 2: span-level (sub-document) exact dedup + PQ ANN
    "dedup_spans",
    "similarity_pq_adc",
    "similarity_pq_rerank",
    "funnel_events",
    "events_rolling_anomaly",
    "source_cap_sample",
    "text_unigram_surprisal",
    "bpe_train_merges",
    "bpe_segment_stats",
    "geo_area_stats",
    "geo_tile_census",
    "geo_geohash_census",
    "geo_simplify_stats",
    "io_geojsonl_scan",
    "multimodal_spectral",
    "training_data_prep_v2",
    "similarity_ivfpq",
    "embedding_dim_stats",
    # round-4 session 3
    "semdedup",
    "quality_deciles",
    "cdc_latest_state",
    "scd2_intervals",
    "pagerank_trade",
    "multimodal_ahash_groups",
    "event_pattern_match",
    "supplier_copurchase_pairs",
    "spatial_nearest_neighbor",
    "customer_spend_rank",
    "multimodal_ahash_near_pairs",
    "geo_haversine_span",
    "geo_spatial_clusters",
    "cohort_retention",
    # round-4 session 2: the TPC-H completion pack (22/22)
    "q11_important_parts",
    "q12_priority_by_returnflag",
    "q13_order_count_distribution",
    "q16_supplier_part_variety",
    "q17_small_quantity_revenue",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
)

# Rotation history (which gate window scored which block):
#   r1: first 50 of the original definition order (_R1_SCORED).
#   r2: tier0 = never-scored packs fronted; window = _R2_SCORED.
#   r3: tier0 = 2 never-scored + 3 oracle-typing fixes; window = _R3_SCORED.
#   r4 (this ordering): tier0 above = the 5 never-scored r3 tail +
#       3 r1-only geo queries + EVERY query added during round 4
#       (sessions 2 and 3) — exactly 50, so the whole window is
#       never-or-oldest-scored; r2-only greens follow, then r3 greens,
#       then the rest. After r4 every registry entry has a driver row.
REGISTRY = {
    **{k: REGISTRY[k] for k in _TIER0},
    # latest driver row is r2 — oldest coverage after tier 0.
    **{
        k: v
        for k, v in REGISTRY.items()
        if k in _R2_SCORED and k not in _R3_SCORED and k not in _TIER0
    },
    # r3 greens — most recently confirmed, re-scored as capacity allows.
    **{
        k: v
        for k, v in REGISTRY.items()
        if k in _R3_SCORED and k not in _TIER0
    },
    # safety net: anything not classified above keeps its place at the end.
    **{
        k: v
        for k, v in REGISTRY.items()
        if k not in _R2_SCORED and k not in _R3_SCORED and k not in _TIER0
    },
}

# ---------------------------------------------------------------------------
# Round-5 additions + window rotation. Policy (ADVICE r3, kept since):
# every query added this round is FRONTED into the gate's 50-entry
# scoring window the round it lands, so no never-scored tail regrows.
# After the r4 union all pre-existing queries have driver rows; the r5
# window = the new queries first, then the r4 tier — deliberately kept
# in-window because round 5 modifies several of its members in place
# (supplier_copurchase_pairs gains the enforced hub cap,
# geo_haversine_span gains the asin clamp, event_pattern_match's oracle
# gains the coalesce), and each needs a fresh driver row this round.
# ---------------------------------------------------------------------------

REGISTRY.update(
    {
        # hub-cap honesty metric for the (now enforced) co-purchase cap
        "supplier_copurchase_audit": (
            R.supplier_copurchase_audit,
            R.supplier_copurchase_audit_sql,
        ),
        # pentagon-aware cellToChildren on real H3 ids: 12-pentagon
        # constant validated by re-deriving the published cell counts
        "h3_children_rollup": (
            H3.h3_children_rollup,
            H3.h3_children_rollup_sql,
        ),
    }
)

_R5_NEW = (
    "supplier_copurchase_audit",
    "h3_children_rollup",
)

REGISTRY = {
    **{k: REGISTRY[k] for k in _R5_NEW},
    **{k: v for k, v in REGISTRY.items() if k not in _R5_NEW},
}

# ---------------------------------------------------------------------------
# Round-7 additions + window rotation.
#
# New surface: gridDisk/gridRing/gridDistance on real H3 ids
# (layout/h3grid.py) — exact within non-pentagon base cells via integer
# axial-lattice algebra, verified against the H3 documentation's
# published gridDisk example (VERDICT r5 next-round item 4).
#
# Window policy (ADVICE r3, kept since): new queries FRONT the 50-entry
# gate window, followed by the queries whose behavior changed since
# their last driver score, then the oldest-scored cohort:
#   - multimodal_image_formats: added r6 mid-registry, NEVER scored;
#   - multimodal_decode_meta / multimodal_features: last scored r3,
#     but r6 added JPEG payloads to the media fixture they aggregate;
#   - gdb_scan_attrs / gdb_scan_oids: last scored r2, r6 rewrote the
#     .gdbtablx sparse-bitmap row discovery under them;
#   - geo_haversine_span: r7 restructured the shared haversine text
#     (input-side NaN guard, NULL->NULL);
#   - then the r2-scored cohort (oldest remaining driver rows). The
#     r3-scored cohort rotates in next round.
# ---------------------------------------------------------------------------

from gis_etl_spark.layout import h3grid as H3G  # noqa: E402

REGISTRY.update(
    {
        # aperture-7 law as a driver contract: lattice-walked ring ==
        # digit-arithmetic children for all 110 non-pentagon base cells
        "h3_grid_ring_children": (
            H3G.h3_grid_ring_children,
            H3G.h3_grid_ring_children_sql,
        ),
        # k=2 disks over synthetic res-9 cells; rows-only by design
        # (lattice walk is not SQL-expressible; laws pinned in
        # tests/test_h3grid.py incl. the published doc example)
        "h3_grid_disk_stats": (H3G.h3_grid_disk_stats, None),
    }
)

_R7_FRONT = (
    # new in r7
    "h3_grid_ring_children",
    "h3_grid_disk_stats",
    # changed since last driver score
    "multimodal_image_formats",
    "multimodal_decode_meta",
    "multimodal_features",
    "gdb_scan_attrs",
    "gdb_scan_oids",
    "geo_haversine_span",
    # oldest driver rows (last scored r2)
    "q9_profit_by_nation_year",
    "hex_heatmap_pyramid",
    "hex_heatmap_smoothed",
    "geo_heatmap_pyramid",
    "geo_normalized_bbox",
    "gpkg_heatmap_roundtrip",
    "geo_heatmap_export",
    "geo_centroid_containment",
    "hex_heatmap_export",
    "geo_hilbert_keys",
    "geo_convert_bbox",
    "io_ndjson_shape_stats",
    "io_csv_wkt_scan",
    "io_wide_attrs_projection",
    "layout_morton_keys",
    "shp_scan_census",
    "asof_click_view",
    "interval_error_activity",
    "spatial_near_pairs",
    "points_in_polygons",
    "text_token_stats",
    "text_quality_scores",
    "lang_id",
    "doc_fingerprints",
    "token_stats_by_lang",
    "top_tokens",
    "tfidf_top_terms",
    "decontaminate_overlap",
    "pii_scan",
    "text_gopher_flags",
    "dedup_embedding_pairs",
    "dedup_exact_groups",
    "dedup_exact_kept",
    "dedup_minhash_pairs",
    "dedup_components",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "similarity_topk",
    "similarity_near_pairs",
    "similarity_ann_lsh",
    "dedup_embedding_lsh",
    "similarity_ivf",
)

REGISTRY = {
    **{k: REGISTRY[k] for k in _R7_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R7_FRONT},
}

# ---------------------------------------------------------------------------
# Round-8 additions + window rotation.
#
# New surface: gridDistance as a driver contract
# (h3_grid_distance_pairs) — closes the last un-oracled surface of
# layout/h3grid.py (VERDICT r7 next-round item 6).
#
# Window policy (unchanged since r3): new queries front, then the
# oldest-scored cohort. After r7, 51 queries' latest driver score is
# r3 or older: similarity_ivf_kmeans / embedding_label_centroids
# (r2) and the 49-query r3 cohort (TPC-H + early geo/events/text).
# 1 new + 2 r2 + 47 r3 fill the 50-slot window; the two r3 leftovers
# (union_all_names, source_id_extract — trivial single-op queries
# with no shared-helper surface that changed since r3) rotate in r9.
# ---------------------------------------------------------------------------

REGISTRY.update(
    {
        "h3_grid_distance_pairs": (
            H3G.h3_grid_distance_pairs,
            H3G.h3_grid_distance_pairs_sql,
        ),
        # gridDisk itself (truncation included) vs the same SQL fold —
        # disk = hexdist<=2 over the enumerated res-2 patch
        "h3_grid_disk_members": (
            H3G.h3_grid_disk_members,
            H3G.h3_grid_disk_members_sql,
        ),
    }
)

_R9_LEFTOVERS = (
    "union_all_names",
    "source_id_extract",
    "multimodal_frame_sample",
    "stratified_sample",
    "count_distinct_customers",
    "approx_distinct_customers",
    # displaced from the r8 window by the session-2 additions (trivial
    # single-op count/group queries, same rationale as the rows above)
    "geo_total_count",
    "geo_core_type_count",
    "geo_source_counts",
)

_R8_FRONT = (
    # new in r8
    "h3_grid_distance_pairs",
    "h3_grid_disk_members",
    # new in r8 session 2 (must land scored — ADVICE r3 discipline)
    "bloom_semi_orders",
    "price_band_revenue",
    "document_chunks",
    # oracle-paired in r8 (was rows-only) — re-front with the new twins
    "geo_hilbert_keys",
    "points_in_polygons",
    "geo_centroid_containment",
    # last scored r2
    "similarity_ivf_kmeans",
    "embedding_label_centroids",
    # the r3-scored cohort (latest driver rows from CORRECTNESS_r03)
    "q1_pricing_summary",
    "q2_top_acctbal_per_nation",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "count_lineitem",
    "custkeys_without_recent_orders",
    "customers_without_orders",
    "suppliers_with_shipments",
    "group_count_order_priority",
    "minmax_orders",
    "cube_orders",
    "rollup_returnflag_linestatus",
    "pivot_status_by_flag",
    "orders_above_avg_sql",
    "orders_with_heavy_items_sql",
    "orders_by_year_month",
    "orders_top15_by_price",
    "price_percentiles",
    "top3_orders_per_customer",
    "running_value_per_user",
    "sessionize_events",
    "sessionize_native",
    "events_hourly_rollup",
    "events_sliding_windows",
    "filter_range_events",
    "training_data_prep",
    "geo_shape_type_census",
    "geo_distinct_sources",
    "geo_global_bbox",
    "geo_centroid_stats",
)

assert len(_R8_FRONT) == 50, len(_R8_FRONT)

REGISTRY = {
    **{k: REGISTRY[k] for k in _R8_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R8_FRONT},
}

# ---------------------------------------------------------------------------
# Round-10 window rotation (VERDICT r9 item 2: the declared r9 rotation
# never ran — queries.py was byte-identical to r8, so the driver
# re-scored the identical 50-query window).
#
# Window policy (unchanged since r3): new queries front, then the
# oldest-scored cohort. After r9 the latest driver score per query is:
# r3 ×9 + r4 ×2 (the long-stale leftovers below), r6 ×49, r7 ×47,
# r9 ×50. The 11 stale queries lead; the r6 cohort fills the rest of
# the 50-slot window (16 r6 leftovers — multimodal_ahash_near_pairs,
# multimodal_resize,
# pagerank_trade, q11_important_parts, q12_priority_by_returnflag,
# q13_order_count_distribution, similarity_pq_adc/_rerank,
# source_cap_sample, spatial_nearest_neighbor, supplier_copurchase_*,
# text_repetition, text_unigram_surprisal, training_data_prep_v2,
# training_shards — rotate in r11 together with the r7 cohort).
# New r10 queries are inserted at the head as they land.
# ---------------------------------------------------------------------------

_R10_FRONT = (
    # new/upgraded in r10 — score first (the export twins were
    # rows-only since r2; now oracle-paired via boundary-WKT SQL twins)
    "chunk_dedup_groups",
    "copurchase_triangles",
    "customer_name_ed1_pairs",
    "embedding_int8_stats",
    "geo_convert_bbox",
    "heavy_hitter_tokens",
    "weighted_sample_docs",
    "geo_heatmap_export",
    "hex_heatmap_export",
    "inverted_index_topk",
    "kmv_distinct_customers",
    "regex_token_stats",
    "sampled_price_quantiles",
    # stale: last scored r3/r4
    "approx_distinct_customers",
    "count_distinct_customers",
    "geo_core_type_count",
    "geo_source_counts",
    "geo_total_count",
    "multimodal_frame_sample",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "source_id_extract",
    "stratified_sample",
    "union_all_names",
    # the r6 cohort, oldest-first fill
    "bpe_segment_stats",
    "bpe_train_merges",
    "cdc_latest_state",
    "cohort_retention",
    "customer_spend_rank",
    "dedup_embedding_lsh_audit",
    "dedup_spans",
    "embedding_dim_stats",
    "event_pattern_match",
    "events_rolling_anomaly",
    "funnel_events",
    "geo_area_stats",
    "geo_flip_sources",
    "geo_geohash_census",
    "geo_heatmap",
    "geo_simplify_stats",
    "geo_spatial_clusters",
    "geo_tile_census",
    "h3_children_rollup",
    "h3_parent_rollup",
    "hex_heatmap",
    "io_geojsonl_scan",
    "mixture_sample",
    "multimodal_ahash_groups",
    "multimodal_feature_norms",
    "multimodal_spectral",
)

assert len(_R10_FRONT) == 50, len(_R10_FRONT)
assert all(k in REGISTRY for k in _R10_FRONT), [
    k for k in _R10_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R10_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R10_FRONT},
}

# ---------------------------------------------------------------------------
# Round-11 window rotation (VERDICT r10 item 3). Latest driver score
# per query after r10: r6 ×23, r7 ×44, r9 ×50, r10 ×50. Policy
# unchanged: new queries front (6), then the oldest-scored cohort —
# the full r6 cohort (23) plus the first 21 of the r7 cohort fill the
# window; the 23 r7 leftovers (interval_error_activity,
# io_csv_wkt_scan, io_ndjson_shape_stats, io_wide_attrs_projection,
# lang_id … top_tokens, alphabetical tail) rotate in r12. After this
# window no registry query's latest score predates r7.
# ---------------------------------------------------------------------------

_R11_FRONT = (
    # new in r11
    "similarity_int8_adc",
    "chunk_decontaminate",
    "fuzzy_decontaminate",
    "leakage_safe_splits",
    "cms_token_counts",
    "bpe_fertility_by_lang",
    # the r6 cohort (all 23 — oldest-scored in the registry)
    "multimodal_ahash_near_pairs",
    "multimodal_resize",
    "pagerank_trade",
    "q11_important_parts",
    "q12_priority_by_returnflag",
    "q13_order_count_distribution",
    "q16_supplier_part_variety",
    "q17_small_quantity_revenue",
    "quality_deciles",
    "scd2_intervals",
    "semdedup",
    "sequence_pack",
    "similarity_ivfpq",
    "similarity_pq_adc",
    "similarity_pq_rerank",
    "source_cap_sample",
    "spatial_nearest_neighbor",
    "supplier_copurchase_audit",
    "supplier_copurchase_pairs",
    "text_repetition",
    "text_unigram_surprisal",
    "training_data_prep_v2",
    "training_shards",
    # r7 cohort, alphabetical head (21 of 44)
    "asof_click_view",
    "decontaminate_overlap",
    "dedup_components",
    "dedup_embedding_lsh",
    "dedup_embedding_pairs",
    "dedup_exact_groups",
    "dedup_exact_kept",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash_pairs",
    "doc_fingerprints",
    "gdb_scan_attrs",
    "gdb_scan_oids",
    "geo_haversine_span",
    "geo_heatmap_pyramid",
    "geo_normalized_bbox",
    "gpkg_heatmap_roundtrip",
    "h3_grid_disk_stats",
    "h3_grid_ring_children",
    "hex_heatmap_pyramid",
    "hex_heatmap_smoothed",
)

assert len(_R11_FRONT) == 50, len(_R11_FRONT)
assert all(k in REGISTRY for k in _R11_FRONT), [
    k for k in _R11_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R11_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R11_FRONT},
}

# ---------------------------------------------------------------------------
# Round-12 additions.
#
# similarity_ivfpq_rerank (VERDICT r11 item 1): the IVFADC+R rung —
# the r11 quality dashboard measured raw probed-ADC recall@5 at 15%
# while the rerank pattern lifts its siblings to 67-100%; this caps
# the same probed chain with the exact-L2 rerank (Jégou et al. §V).
# ---------------------------------------------------------------------------

REGISTRY.update(
    {
        "similarity_ivfpq_rerank": (
            S.similarity_ivfpq_rerank,
            S.ivfpq_rerank_oracle_sql,
        ),
        # bipartite incremental dedup vs a persisted corpus snapshot
        # (VERDICT r11 item 6): exact fingerprint probe + MinHash band
        # probe, new side broadcast, history never self-joins
        "incremental_dedup_pairs": (
            D.incremental_dedup_pairs,
            _DEDUP_SQLS["incremental_dedup_pairs"],
        ),
        # hard-negative mining: top-k closest non-positives per query,
        # band + rank on the rounded cosine (boundary/tie parity)
        "similarity_hard_negatives": (
            S.similarity_hard_negatives,
            _SIM_SQLS["similarity_hard_negatives"],
        ),
        # cross-document duplicate-5-gram share per doc — the corpus-
        # level complement of text_repetition
        "corpus_dup_ngram_fraction": (
            T.corpus_dup_ngram_fraction,
            T.corpus_dup_ngram_fraction_sql,
        ),
        # KMV set algebra: sketch-estimated |A∪B| / |A∩B| of two
        # source groups' shingle sets, exact counts riding along —
        # deterministic sketch, so even the estimates hash-match
        "kmv_source_overlap": (
            T.kmv_source_overlap,
            T.kmv_source_overlap_sql,
        ),
        # as-of with a tolerance horizon (pandas merge_asof semantics):
        # stale context drops, clicks survive with an explicit flag
        "asof_click_view_tolerance": (
            J.asof_click_view_tolerance,
            _JOIN_SQLS["asof_click_view_tolerance"],
        ),
        # per-source dataset report card: docs/tokens/langs/quality/
        # exact-dup footprint in one pass, fixedpoint-deterministic
        "source_data_card": (
            T.source_data_card,
            T.source_data_card_sql,
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-13 additions.
# ---------------------------------------------------------------------------
REGISTRY.update(
    {
        # KMV set algebra, sketch-only (VERDICT r12 item 6): the
        # deployable path — per-group TakeOrdered(K) sketches merged
        # by set algebra, no exact full-universe audit in the plan
        "kmv_overlap_sketch": (
            T.kmv_overlap_sketch,
            T.kmv_overlap_sketch_sql,
        ),
        # IVFADC+R served from the PERSISTED bucketed index tables
        # (VERDICT r12 item 3): bit-identical to similarity_ivfpq_rerank,
        # so the same retrain-and-probe oracle pins the stored artifacts
        "similarity_ivfpq_serve": (
            S.similarity_ivfpq_serve,
            S.ivfpq_rerank_oracle_sql,
        ),
        # canonical-keeper policy per near-dup cluster: keep the
        # highest-quality member (ties -> min id); argmax via one
        # map-side-combined max(struct), no window over members
        "dedup_canonical_keepers": (
            D.dedup_canonical_keepers,
            _DEDUP_SQLS["dedup_canonical_keepers"],
        ),
        # duplicate-cluster size histogram: clusters / docs / redundant
        # docs per size — the policy-choice observability rollup
        "dedup_cluster_stats": (
            D.dedup_cluster_stats,
            _DEDUP_SQLS["dedup_cluster_stats"],
        ),
        # temperature-0.5 source sampling weights (sqrt smoothing —
        # IEEE sqrt is correctly rounded in both engines, pow is not);
        # fixedpoint units -> exact integer denominator
        "mixture_temperature_weights": (
            T.mixture_temperature_weights,
            T.mixture_temperature_weights_sql,
        ),
        # PII redaction transform (SSN -> phone -> email, pinned
        # order); oracle hash pins BYTE equality of redacted text
        "pii_redact": (
            T.pii_redact,
            T.pii_redact_sql,
        ),
        # integer-exact token-budget apportionment (Hamilton largest
        # remainder over sqrt-smoothed units): quotas sum to the
        # budget EXACTLY, all int64 arithmetic
        "mixture_token_plan": (
            T.mixture_token_plan,
            T.mixture_token_plan_sql,
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-12 window rotation (VERDICT r11 item 7). Latest driver score
# per query after r11: r7 ×23, r9 ×50, r10 ×50, r11 ×50. Policy
# unchanged: the 7 r12 additions front, then the queries whose PLAN
# changed this round since their last score (the single-partition-
# window rewires: cms_token_counts + the ADC/kmeans retrieval family —
# outputs verified identical locally, fronted so the driver re-pins
# them), then the full r7 cohort (23 — oldest in the registry; its
# three changed members similarity_topk/ann_lsh/ivf are already
# here), then the alphabetical head of the r9 cohort fills
# the window (14 after the 5th-7th r12 additions displaced three).
# After this window no registry query's latest score
# predates r9; the r9 tail (35, geo_hilbert_keys / geo_shape_type_census /
# group_count_order_priority …
# training_data_prep) rotates in r13.
# ---------------------------------------------------------------------------

_R12_FRONT = (
    # new in r12
    "similarity_ivfpq_rerank",
    "incremental_dedup_pairs",
    "similarity_hard_negatives",
    "corpus_dup_ngram_fraction",
    "kmv_source_overlap",
    "asof_click_view_tolerance",
    "source_data_card",
    # plan changed this round since last score
    "cms_token_counts",
    "similarity_pq_adc",
    "similarity_pq_rerank",
    "similarity_ivfpq",
    "similarity_int8_adc",
    "similarity_ivf_kmeans",
    # the r7 cohort (all 23 — oldest-scored in the registry)
    "interval_error_activity",
    "io_csv_wkt_scan",
    "io_ndjson_shape_stats",
    "io_wide_attrs_projection",
    "lang_id",
    "layout_morton_keys",
    "multimodal_decode_meta",
    "multimodal_features",
    "multimodal_image_formats",
    "pii_scan",
    "q9_profit_by_nation_year",
    "shp_scan_census",
    "similarity_ann_lsh",
    "similarity_ivf",
    "similarity_near_pairs",
    "similarity_topk",
    "spatial_near_pairs",
    "text_gopher_flags",
    "text_quality_scores",
    "text_token_stats",
    "tfidf_top_terms",
    "token_stats_by_lang",
    "top_tokens",
    # r9 cohort, alphabetical head (17 of 49)
    "bloom_semi_orders",
    "count_lineitem",
    "cube_orders",
    "custkeys_without_recent_orders",
    "customers_without_orders",
    "document_chunks",
    "embedding_label_centroids",
    "events_hourly_rollup",
    "events_sliding_windows",
    "filter_range_events",
    "geo_centroid_containment",
    "geo_centroid_stats",
    "geo_distinct_sources",
    "geo_global_bbox",
)

assert len(_R12_FRONT) == 50, len(_R12_FRONT)
assert all(k in REGISTRY for k in _R12_FRONT), [
    k for k in _R12_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R12_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R12_FRONT},
}

# ---------------------------------------------------------------------------
# Round-13 window rotation (VERDICT r12 item 2). Latest driver score
# per query after r12: r9 ×35, r10 ×50, r11 ×45, r12 ×50. The window:
# the 7 r13 additions front, then the 3 queries whose PLAN changed
# this round since their last score (similarity_ivfpq_rerank — the
# R=100 knee pin; kmv_source_overlap — the NULL-group guard;
# similarity_ivfpq — shared probe/rerank refactor, plan unchanged but
# cheap to re-pin), then the ENTIRE r9 tail (35 — exactly the set the
# r12 note planned), then the alphabetical head of the r10 cohort
# fills the window (5 of 50). After this window no registry query's
# latest score predates r10; the r10 tail (45) rotates in r14.
# ---------------------------------------------------------------------------

_R13_FRONT = (
    # new in r13
    "kmv_overlap_sketch",
    "similarity_ivfpq_serve",
    "dedup_canonical_keepers",
    "dedup_cluster_stats",
    "mixture_temperature_weights",
    "mixture_token_plan",
    "pii_redact",
    # plan changed this round since last score
    "similarity_ivfpq_rerank",
    "kmv_source_overlap",
    "similarity_ivfpq",
    # the r9 tail (all 35 — oldest-scored in the registry)
    "geo_hilbert_keys",
    "geo_shape_type_census",
    "group_count_order_priority",
    "h3_grid_disk_members",
    "h3_grid_distance_pairs",
    "minmax_orders",
    "orders_above_avg_sql",
    "orders_by_year_month",
    "orders_top15_by_price",
    "orders_with_heavy_items_sql",
    "pivot_status_by_flag",
    "points_in_polygons",
    "price_band_revenue",
    "price_percentiles",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q1_pricing_summary",
    "q22_idle_customers",
    "q2_top_acctbal_per_nation",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "rollup_returnflag_linestatus",
    "running_value_per_user",
    "sessionize_events",
    "sessionize_native",
    "suppliers_with_shipments",
    "top3_orders_per_customer",
    "training_data_prep",
    # r10 cohort, alphabetical head (5 of 50)
    "approx_distinct_customers",
    "bpe_segment_stats",
    "bpe_train_merges",
    "cdc_latest_state",
    "chunk_dedup_groups",
)

assert len(_R13_FRONT) == 50, len(_R13_FRONT)
assert all(k in REGISTRY for k in _R13_FRONT), [
    k for k in _R13_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R13_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R13_FRONT},
}

# ---------------------------------------------------------------------------
# Round-14 additions.
# ---------------------------------------------------------------------------
REGISTRY.update(
    {
        # canonical-keeper dedup APPLIED (VERDICT r13 item 1): the
        # per-source before/after data-card delta of materializing the
        # keeper-only corpus; the corpus write itself is
        # apply_keepers_corpus / `canonical-dedup --write-survivors`
        "dedup_apply_keepers": (
            D.dedup_apply_keepers,
            _DEDUP_SQLS["dedup_apply_keepers"],
        ),
        # quota-respecting deterministic sampler (VERDICT r13 item 2):
        # per source, hash-ordered maximal prefix under the Hamilton
        # token quota — Σ selected ≤ quota < Σ + next-doc
        "mixture_draw_plan": (
            T.mixture_draw_plan,
            T.mixture_draw_plan_sql,
        ),
        # the draw's 100 TB rendition: hash-prefix-bucketed two-pass
        # running sum (no whole-source window partition); SAME oracle
        # as mixture_draw_plan — the hash match is the independent
        # proof the refinement changes nothing
        "mixture_draw_split": (
            T.mixture_draw_split,
            T.mixture_draw_plan_sql,
        ),
        # span-level PII audit (VERDICT r13 item 5): exact (kind,
        # start, len) of every match, so redaction is verifiable
        # offset-by-offset; split+prefix-sum, no position regex needed
        "pii_spans": (
            T.pii_spans,
            T.pii_spans_sql,
        ),
        # the curation CAPSTONE: raw → near_dedup → quality →
        # pii_clean → mixture_draw as one lazy plan, per-source
        # per-stage (n_docs, n_tokens) — composes the keeper policy,
        # the quality composite, the PII gate, and the Hamilton draw
        # with their exact standalone expressions
        "corpus_build_funnel": (
            CB.corpus_build_funnel,
            CB.corpus_build_funnel_sql,
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-14 window rotation (VERDICT r13 item 3). Latest driver score
# per query after r13: r10 ×45, r11 ×45, r12 ×47, r13 ×50. The window:
# the 8 r14 additions front (dedup_apply_keepers, mixture_draw_plan,
# mixture_draw_split, pii_spans, corpus_build_funnel, ann_drift_stat,
# bm25_topk, cdc_merge_apply), then the 2 r13-scored queries whose
# OUTPUT changed this round (pii_redact — ipv4/card kinds + new
# planted positives + Luhn audit columns; mixture_temperature_weights
# — the weight column moved from round() to the explicit fixedpoint
# half-up quantization, ADVICE r13), then 40 of the 45-query r10 tail.
# FIVE r10-tail queries (union_all_names, source_id_extract,
# count_distinct_customers, multimodal_frame_sample, geo_total_count —
# trivially stable single-op queries, plan-untouched since r10)
# yielded their slots to the late-r14 additions; after this window
# exactly those five (plus the try_cast-only KMV pair, whose OUTPUT
# is bit-identical on any corpus whose sources parse — verified
# locally) still predate r11, and all re-pin in r15 with the r11
# cohort.
# ---------------------------------------------------------------------------

_R14_FRONT = (
    # new in r14
    "dedup_apply_keepers",
    "mixture_draw_plan",
    "mixture_draw_split",
    "pii_spans",
    "corpus_build_funnel",
    "ann_drift_stat",
    "bm25_topk",
    "cdc_merge_apply",
    # output changed this round since last score
    "pii_redact",
    "mixture_temperature_weights",
    # the r10 tail (all 45 — oldest-scored in the registry)
    "cohort_retention",
    "copurchase_triangles",
    "customer_name_ed1_pairs",
    "customer_spend_rank",
    "dedup_embedding_lsh_audit",
    "dedup_spans",
    "embedding_dim_stats",
    "embedding_int8_stats",
    "event_pattern_match",
    "events_rolling_anomaly",
    "funnel_events",
    "geo_area_stats",
    "geo_convert_bbox",
    "geo_core_type_count",
    "geo_flip_sources",
    "geo_geohash_census",
    "geo_heatmap",
    "geo_heatmap_export",
    "geo_simplify_stats",
    "geo_source_counts",
    "geo_spatial_clusters",
    "geo_tile_census",
    "h3_children_rollup",
    "h3_parent_rollup",
    "heavy_hitter_tokens",
    "hex_heatmap",
    "hex_heatmap_export",
    "inverted_index_topk",
    "io_geojsonl_scan",
    "kmv_distinct_customers",
    "mixture_sample",
    "multimodal_ahash_groups",
    "multimodal_feature_norms",
    "multimodal_spectral",
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "regex_token_stats",
    "sampled_price_quantiles",
    "stratified_sample",
    "weighted_sample_docs",
)

assert len(_R14_FRONT) == 50, len(_R14_FRONT)
assert all(k in REGISTRY for k in _R14_FRONT), [
    k for k in _R14_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R14_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R14_FRONT},
}

# ---------------------------------------------------------------------------
# Round-15 window rotation (VERDICT r14 item 3 / COVERAGE.md's r15
# promise, executed). Latest driver score per query after r14:
# r10 ×5, r11 ×45, r12 ×47, r13 ×48, r14 ×50. The window:
# the 5 r15 additions (bm25_topk_pruned, bm25_topk_stored,
# bm25_stats_drift, bm25_topk_after_append, cdc_merge_apply_log), the
# 1 output-changed query
# (multimodal_feature_norms — rows-only → oracle-paired, new twinnable
# kernel + fixedpoint L1 schema), the 3 plan-changed queries
# (bm25_topk — posting-score subplan extracted for the pruned rung;
# cdc_merge_apply — the anti-join now covers 'I' keys, ADVICE r14;
# corpus_build_funnel — flags-table indirection), then the SEVEN
# promised stale entries (the 5 r10 single-op queries + the
# try_cast-touched KMV pair, unscored since their r14 plan edit),
# then the 34 alphabetically-first of the 45-query r11 cohort.
# The 11 r11 leftovers (quality_deciles is IN; scd2_intervals,
# semdedup, sequence_pack, source_cap_sample,
# spatial_nearest_neighbor, supplier_copurchase_audit,
# supplier_copurchase_pairs, text_repetition, text_unigram_surprisal,
# training_data_prep_v2, training_shards) become the oldest tail and
# rotate in r16.
# ---------------------------------------------------------------------------

_R15_FRONT = (
    # new in r15
    "bm25_topk_pruned",
    "bm25_topk_stored",
    "bm25_stats_drift",
    "bm25_topk_after_append",
    "cdc_merge_apply_log",
    # output changed since last score
    "multimodal_feature_norms",
    # plan changed since last score
    "bm25_topk",
    "cdc_merge_apply",
    "corpus_build_funnel",
    # the seven promised stale entries
    "union_all_names",
    "source_id_extract",
    "count_distinct_customers",
    "multimodal_frame_sample",
    "geo_total_count",
    "kmv_source_overlap",
    "kmv_overlap_sketch",
    # the r11 cohort (oldest-scored), alphabetical
    "asof_click_view",
    "bpe_fertility_by_lang",
    "chunk_decontaminate",
    "decontaminate_overlap",
    "dedup_components",
    "dedup_embedding_lsh",
    "dedup_embedding_pairs",
    "dedup_exact_groups",
    "dedup_exact_kept",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash_pairs",
    "doc_fingerprints",
    "fuzzy_decontaminate",
    "gdb_scan_attrs",
    "gdb_scan_oids",
    "geo_haversine_span",
    "geo_heatmap_pyramid",
    "geo_normalized_bbox",
    "gpkg_heatmap_roundtrip",
    "h3_grid_disk_stats",
    "h3_grid_ring_children",
    "hex_heatmap_pyramid",
    "hex_heatmap_smoothed",
    "leakage_safe_splits",
    "multimodal_ahash_near_pairs",
    "multimodal_resize",
    "pagerank_trade",
    "q11_important_parts",
    "q12_priority_by_returnflag",
    "q13_order_count_distribution",
    "q16_supplier_part_variety",
    "q17_small_quantity_revenue",
    "quality_deciles",
)

assert len(_R15_FRONT) == 50, len(_R15_FRONT)
assert all(k in REGISTRY for k in _R15_FRONT), [
    k for k in _R15_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R15_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R15_FRONT},
}

# ---------------------------------------------------------------------------
# Round 16: the incremental-funnel contract query (VERDICT r15 item 5)
# — the increment's stage flags from the frozen-history probes, hash-
# pinned against a full re-derive over base ∪ increment — plus its
# OPERATING MONITOR flags_increment_risk (the bm25_stats_drift /
# ann_drift_stat pattern): the displacement-risk census that detects,
# increment-sized, exactly when the frozen-history approximation
# stops being exact.
# ---------------------------------------------------------------------------

REGISTRY.update(
    {
        "corpus_flags_increment": (
            CB.corpus_flags_increment,
            CB.corpus_flags_increment_sql,
        ),
        "flags_increment_risk": (
            CB.flags_increment_risk,
            CB.flags_increment_risk_sql,
        ),
        # r17: the remediation the monitor schedules — targeted
        # re-derive of exactly the merged components the increment can
        # change, patched over the frozen-history flags; the oracle
        # re-derives EVERYTHING from scratch over base ∪ risky
        # increment and emits increment ids + changed base ids
        "corpus_flags_rederive": (
            CB.corpus_flags_rederive,
            CB.corpus_flags_rederive_sql,
        ),
        # the stored-snapshot rung of incremental dedup, registered
        # against the SAME oracle as the in-plan rung — the
        # bm25_topk_stored equality-proof pattern applied to the
        # snapshot artifacts (fingerprints/bands/shingles/sizes)
        "incremental_dedup_pairs_stored": (
            D.incremental_dedup_pairs_stored,
            _DEDUP_SQLS["incremental_dedup_pairs"],
        ),
    }
)

# ---------------------------------------------------------------------------
# Round-16 window rotation (VERDICT r15 item 2, executed exactly as
# promised at the r15 close). Latest driver score per query after r15:
# r11 ×11, r12 ×47, r13 ×46, r14 ×46, r15 ×50. The window: the 1 r16
# addition, the ELEVEN promised r11 leftovers (the rotation debt named
# in the r15 comment above), the 3 plan-changed queries
# (bm25_topk_stored / bm25_topk_after_append — the de-skewed champion
# build + stopword-free stored postings; cdc_merge_apply_log — the
# explicit intra-batch op-rank in the compaction struct), then the 33
# alphabetically-first of the 47-query r12 cohort. The 14 r12
# leftovers (similarity_ivf, similarity_ivf_kmeans,
# similarity_near_pairs, similarity_pq_adc, similarity_pq_rerank,
# similarity_topk, source_data_card, spatial_near_pairs,
# text_gopher_flags, text_quality_scores, text_token_stats,
# tfidf_top_terms, token_stats_by_lang, top_tokens) become the oldest
# tail and rotate in r17.
# The component tuples are exported separately so the COVERAGE.md
# rotation-narrative counts are test-assertable set arithmetic
# (VERDICT r15 item 6 — no more prose-count drift).
# ---------------------------------------------------------------------------

_R16_NEW = (
    "corpus_flags_increment",
    "flags_increment_risk",
    "incremental_dedup_pairs_stored",
)
_R16_R11_LEFTOVERS = (
    "scd2_intervals",
    "semdedup",
    "sequence_pack",
    "source_cap_sample",
    "spatial_nearest_neighbor",
    "supplier_copurchase_audit",
    "supplier_copurchase_pairs",
    "text_repetition",
    "text_unigram_surprisal",
    "training_data_prep_v2",
    "training_shards",
)
_R16_PLAN_CHANGED = (
    "bm25_topk_stored",
    "bm25_topk_after_append",
    "cdc_merge_apply_log",
)
_R16_R12_COHORT = (
    "asof_click_view_tolerance",
    "bloom_semi_orders",
    "cms_token_counts",
    "corpus_dup_ngram_fraction",
    "count_lineitem",
    "cube_orders",
    "custkeys_without_recent_orders",
    "customers_without_orders",
    "document_chunks",
    "embedding_label_centroids",
    "events_hourly_rollup",
    "events_sliding_windows",
    "filter_range_events",
    "geo_centroid_containment",
    "geo_centroid_stats",
    "geo_distinct_sources",
    "geo_global_bbox",
    "incremental_dedup_pairs",
    "interval_error_activity",
    "io_csv_wkt_scan",
    "io_ndjson_shape_stats",
    "io_wide_attrs_projection",
    "lang_id",
    "layout_morton_keys",
    "multimodal_decode_meta",
    "multimodal_features",
    "multimodal_image_formats",
    "pii_scan",
    "q9_profit_by_nation_year",
    "shp_scan_census",
    "similarity_ann_lsh",
    "similarity_hard_negatives",
    "similarity_int8_adc",
)
_R16_FRONT = (
    _R16_NEW + _R16_R11_LEFTOVERS + _R16_PLAN_CHANGED + _R16_R12_COHORT
)

assert len(_R16_FRONT) == 50, len(_R16_FRONT)
assert len(set(_R16_FRONT)) == 50
assert all(k in REGISTRY for k in _R16_FRONT), [
    k for k in _R16_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R16_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R16_FRONT},
}

# ---------------------------------------------------------------------------
# Round-17 window rotation (VERDICT r16 item 2, executed exactly as
# promised at the r16 close). Latest driver score per query after r16:
# r12 ×14, r13 ×46, r14 ×46, r15 ×47, r16 ×50. The window: the 1 r17
# addition (corpus_flags_rederive — the monitor's targeted
# remediation), the FOURTEEN promised r12 leftovers (the rotation debt
# named in the r16 comment above), the 3 plan-changed queries
# (flags_increment_risk — now served from the stored quality/members
# snapshot tables; corpus_flags_increment — the probe-then-extend
# ordering guard + the stored probe's self-match filter;
# incremental_dedup_pairs_stored — the same self-match filter), then
# the 32 alphabetically-first of the 46-query r13 cohort. The 14 r13
# leftovers (q5_local_supplier_volume, q6_forecast_revenue,
# q7_volume_shipping, q8_market_share, rollup_returnflag_linestatus,
# running_value_per_user, sessionize_events, sessionize_native,
# similarity_ivfpq, similarity_ivfpq_rerank, similarity_ivfpq_serve,
# suppliers_with_shipments, top3_orders_per_customer,
# training_data_prep) become the oldest tail and rotate in r18. After
# this window no query's latest score predates r13.
# ---------------------------------------------------------------------------

_R17_NEW = ("corpus_flags_rederive",)
_R17_R12_LEFTOVERS = (
    "similarity_ivf",
    "similarity_ivf_kmeans",
    "similarity_near_pairs",
    "similarity_pq_adc",
    "similarity_pq_rerank",
    "similarity_topk",
    "source_data_card",
    "spatial_near_pairs",
    "text_gopher_flags",
    "text_quality_scores",
    "text_token_stats",
    "tfidf_top_terms",
    "token_stats_by_lang",
    "top_tokens",
)
_R17_PLAN_CHANGED = (
    "flags_increment_risk",
    "corpus_flags_increment",
    "incremental_dedup_pairs_stored",
)
_R17_R13_COHORT = (
    "approx_distinct_customers",
    "bpe_segment_stats",
    "bpe_train_merges",
    "cdc_latest_state",
    "chunk_dedup_groups",
    "dedup_canonical_keepers",
    "dedup_cluster_stats",
    "geo_hilbert_keys",
    "geo_shape_type_census",
    "group_count_order_priority",
    "h3_grid_disk_members",
    "h3_grid_distance_pairs",
    "minmax_orders",
    "mixture_token_plan",
    "orders_above_avg_sql",
    "orders_by_year_month",
    "orders_top15_by_price",
    "orders_with_heavy_items_sql",
    "pivot_status_by_flag",
    "points_in_polygons",
    "price_band_revenue",
    "price_percentiles",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q1_pricing_summary",
    "q22_idle_customers",
    "q2_top_acctbal_per_nation",
    "q3_shipping_priority",
    "q4_order_priority",
)
_R17_FRONT = (
    _R17_NEW + _R17_R12_LEFTOVERS + _R17_PLAN_CHANGED + _R17_R13_COHORT
)

assert len(_R17_FRONT) == 50, len(_R17_FRONT)
assert len(set(_R17_FRONT)) == 50
assert all(k in REGISTRY for k in _R17_FRONT), [
    k for k in _R17_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R17_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R17_FRONT},
}

# ---------------------------------------------------------------------------
# Round-18 window rotation (VERDICT r17 item 3, executed exactly as the
# r17 comment above promised). Latest driver score per query after r17:
# r13 ×14, r14 ×46, r15 ×47, r16 ×47, r17 ×50. r18 is an OPTIMIZATION
# round — no new queries — so the window is: the FOURTEEN promised r13
# leftovers (the rotation debt named above), then every declared query
# whose PHYSICAL PLAN this round's optimizations changed (the r17
# plan-changed precedent: a restructured query re-pins against its
# oracle even if recently scored — OPTIMIZATION_r18.md names each
# change), then the 12 alphabetically-first of the r14 cohort. The
# remaining 30 r14-scored queries are the oldest tail and rotate in
# r19. After this window no query's latest score predates r14.
# ---------------------------------------------------------------------------

_R18_R13_LEFTOVERS = (
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "rollup_returnflag_linestatus",
    "running_value_per_user",
    "sessionize_events",
    "sessionize_native",
    "similarity_ivfpq",
    "similarity_ivfpq_rerank",
    "similarity_ivfpq_serve",
    "suppliers_with_shipments",
    "top3_orders_per_customer",
    "training_data_prep",
)
_R18_PLAN_CHANGED = (
    # corpus-flags family: driver union-find gate, 2-exchange fixpoint,
    # stored attrs table, concurrent materialization (changes 1-6)
    "corpus_flags_rederive",
    "corpus_flags_increment",
    "flags_increment_risk",
    "corpus_build_funnel",
    "incremental_dedup_pairs_stored",
    # component-label session memo + pair-edge reuse (changes 3, 9)
    "dedup_canonical_keepers",
    "dedup_cluster_stats",
    "leakage_safe_splits",
    # ED<=1 dedup: dropped global distinct, shared frames (change 10)
    "customer_name_ed1_pairs",
    # selectExpr Hilbert key assembly (change 11)
    "geo_hilbert_keys",
    # BM25 chain: one corpus explode; stored-serve single probe (8, 14)
    "bm25_topk",
    "bm25_topk_pruned",
    "bm25_topk_stored",
    "bm25_topk_after_append",
    # co-purchase bipartite projection: 4 subtree copies -> 1 (13)
    "supplier_copurchase_pairs",
    "supplier_copurchase_audit",
    "copurchase_triangles",
    # one corpus pass text ops (15); funnel scan dedup (17)
    "quality_deciles",
    "text_unigram_surprisal",
    "funnel_events",
    # spatial joins: WKB decode once (19)
    "spatial_near_pairs",
    "spatial_nearest_neighbor",
    "geo_spatial_clusters",
    # LSH verify parallelized (22)
    "dedup_embedding_lsh",
)
_R18_R14_COHORT = (
    "ann_drift_stat",
    "cohort_retention",
    "customer_spend_rank",
    "dedup_apply_keepers",
    "dedup_embedding_lsh_audit",
    "dedup_spans",
    "embedding_dim_stats",
    "embedding_int8_stats",
    "event_pattern_match",
    "events_rolling_anomaly",
    "geo_area_stats",
    "geo_convert_bbox",
)
_R18_FRONT = (
    _R18_R13_LEFTOVERS + _R18_PLAN_CHANGED + _R18_R14_COHORT
)

assert len(_R18_FRONT) == 50, len(_R18_FRONT)
assert len(set(_R18_FRONT)) == 50
assert all(k in REGISTRY for k in _R18_FRONT), [
    k for k in _R18_FRONT if k not in REGISTRY
]

REGISTRY = {
    **{k: REGISTRY[k] for k in _R18_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R18_FRONT},
}

# ---------------------------------------------------------------------------
# Round-19 window rotation (VERDICT r18 item 8, executed exactly as the
# r18 comment above promised). Latest driver score per query after r18:
# r14 ×30, r15 ×41, r16 ×41, r17 ×42, r18 ×50. r19 is the second
# OPTIMIZATION round — no new queries — so the window is: the THIRTY
# promised r14 leftovers (the oldest tail named above), then every
# declared query whose PHYSICAL PLAN this round's optimizations changed
# and that is not already among the leftovers (the re-pin precedent —
# OPTIMIZATION_r19.md names each change), then the 8
# alphabetically-first of the 41-query r15 cohort. After this window no
# query's latest score predates r15.
# ---------------------------------------------------------------------------

_R19_R14_LEFTOVERS = (
    "geo_core_type_count",
    "geo_flip_sources",
    "geo_geohash_census",
    "geo_heatmap",
    "geo_heatmap_export",
    "geo_simplify_stats",
    "geo_source_counts",
    "geo_tile_census",
    "h3_children_rollup",
    "h3_parent_rollup",
    "heavy_hitter_tokens",
    "hex_heatmap",
    "hex_heatmap_export",       # also r19 plan-changed (cell respread)
    "inverted_index_topk",
    "io_geojsonl_scan",
    "kmv_distinct_customers",
    "mixture_draw_plan",
    "mixture_draw_split",
    "mixture_sample",
    "mixture_temperature_weights",
    "multimodal_ahash_groups",
    "multimodal_spectral",
    "pii_redact",               # also r19 plan-changed (spread read)
    "pii_spans",                # also r19 plan-changed (spread read)
    "q20_excess_shippers",
    "q21_waiting_suppliers",
    "regex_token_stats",
    "sampled_price_quantiles",
    "stratified_sample",
    "weighted_sample_docs",
)
_R19_PLAN_CHANGED = (
    # co-purchase fan-out respread + pair-keyed exchange
    "supplier_copurchase_pairs",
    "copurchase_triangles",
    # PQ/IVFPQ literal-codebook distance tables (createDataFrame +
    # broadcast join removed from every family member)
    "similarity_pq_adc",
    "similarity_pq_rerank",
    "similarity_ivfpq",
    "similarity_ivfpq_rerank",
    "similarity_ivfpq_serve",
    # ED≤1 deletion-variant checkpoint partitioned on the join key
    "customer_name_ed1_pairs",
    # persisted edge cache coalesced to cluster width
    "pagerank_trade",
    # scale-gated spread of the single-split corpus scan
    "cms_token_counts",
    "corpus_dup_ngram_fraction",
    "text_repetition",
)
_R19_R15_COHORT = (
    "asof_click_view",
    "bm25_stats_drift",
    "bpe_fertility_by_lang",
    "cdc_merge_apply",
    "chunk_decontaminate",
    "count_distinct_customers",
    "decontaminate_overlap",
    "dedup_components",
)
_R19_FRONT = (
    _R19_R14_LEFTOVERS + _R19_PLAN_CHANGED + _R19_R15_COHORT
)

assert len(_R19_FRONT) == 50, len(_R19_FRONT)
assert len(set(_R19_FRONT)) == 50
assert all(k in REGISTRY for k in _R19_FRONT), [
    k for k in _R19_FRONT if k not in REGISTRY
]

REGISTRY = _Registry({
    **{k: REGISTRY[k] for k in _R19_FRONT},
    **{k: v for k, v in REGISTRY.items() if k not in _R19_FRONT},
})
