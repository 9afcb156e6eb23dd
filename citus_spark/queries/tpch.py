"""TPC-H subset — the reference's own end-to-end query suite.

The reference ships queries 1, 3, 6, 7, 10, 12, 14, 19 as its e2e
correctness tests (reference src/test/regress/sql/
multi_tpch_query{1,3,6,7,10,12,14,19}.sql, data loaded by
multi_create_table.sql with lineitem/orders hash-distributed and the
dimensions as reference tables). We re-express them against the
driver's parquet schema; columns the driver's generator does not emit
(l_shipmode, l_commitdate, o_shippriority, p_container,
l_shipinstruct) are adapted while preserving each query's *plan
shape* — that is what each test exercises:

 q1  — scan + filter + 8-agg partial/final split + sort
       (↔ worker/master ExtendedOp split, multi_logical_optimizer.c:2394,1427)
 q3  — 3-way join (ref ⋈ dist ⋈ colocated dist) + agg + top-k
 q6  — pure filter-scan agg (predicate pushdown to parquet)
 q7  — dist ⋈ dist colocated join + 2 broadcast dims + year extract
 q10 — dist ⋈ dist ⋈ ref ⋈ ref + group by wide key + top-k
 q12 — colocated join + conditional (CASE) aggregation
 q14 — broadcast join + conditional agg ratio
 q19 — broadcast join + disjunctive multi-clause predicate (OR of ANDs)

All LIMIT queries carry a total-order tiebreaker so the row set is
deterministic across engines (the reference does the same in its
regress suite by ordering on unique keys).
"""

from citus_spark.queries import DAVG, DSUM, register_shared_sql, register_split

# Corpus-byte gate for the q3/q10 broadcast-side reassociation below:
# the hinted customer⋈orders broadcast grows linearly with the corpus
# (unlike the dimension broadcasts the conf-derived threshold governs),
# so the hint must not outlive the scale where a driver-side build of
# that relation is trivially cheap. 32 MiB ≈ 2× the measured-win corpus
# (sf0.1, 17 MiB — ~73 k build rows for q3, ~5.4 k for q10); the 10×
# trend corpus (native sf1, 186 MiB) and everything above keep the
# original text, where the conf layer's corpus-proportional broadcast
# threshold (and ≥256 MiB, AQE + SMJ) makes the call. Same gating
# philosophy and scale band as _SERIAL_FINAL_MAX_BYTES.
_BCAST_RESTRUCTURE_MAX_BYTES = 32 << 20

# ---------------------------------------------------------------------------
# Derived partsupp: the driver fixture set has no partsupp.parquet
# (reference loads it in multi_create_table.sql from data/partsupp.*),
# so q2/q9/q11/q16/q20 derive a deterministic partsupp relation from
# the part × supplier keys with dbgen's supplier-spread formula
# (4 suppliers per part, step S/4 + partkey/S). Pure integer
# arithmetic → bit-identical rows in Spark and DuckDB, making these
# queries exact-shape rather than adapted. availqty/supplycost are
# keyed hashes with ≤2 decimal places, so decimal sums are exact.
_PARTSUPP_CTE = """
sc AS (SELECT CAST(count(*) AS BIGINT) AS s FROM supplier),
gen AS (SELECT 0 AS n UNION ALL SELECT 1 UNION ALL
        SELECT 2 UNION ALL SELECT 3),
ps_keys AS (
  SELECT DISTINCT
    p_partkey AS ps_partkey,
    (p_partkey + n * (CAST(floor(s / 4.0) AS BIGINT)
       + CAST(floor(p_partkey / CAST(s AS DOUBLE)) AS BIGINT))) % s
      AS ps_suppkey
  FROM part CROSS JOIN gen CROSS JOIN sc
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS BIGINT)
           AS ps_availqty,
         CAST((ps_partkey * 31 + ps_suppkey * 17) % 100000 AS DOUBLE)
           / 100.0 + 1.0 AS ps_supplycost
  FROM ps_keys
)"""


def _partsupp_view(spark, sf_dir) -> None:
    """Register the derived partsupp as the Spark-side temp view
    ``partsupp`` — row-identical to ``_PARTSUPP_CTE`` but one narrow
    pass over part with a per-row explode instead of the CTE's
    CROSS JOIN gen + global SELECT DISTINCT (r11 optimization):

    - the CTE's DISTINCT dedupes (ps_partkey, ps_suppkey) pairs; since
      p_partkey is unique in part (dbgen primary key, asserted by the
      oracle gate at every SF), duplicate pairs can only arise WITHIN
      one part row's four generated suppkeys, so a per-row
      array_distinct is exactly equivalent — and removes the CTE's
      2-stage distinct shuffle plus the 4-row gen broadcast join;
    - the scalar supplier count joins as a 1-row broadcast (the same
      benign constant-relation BNLJ the CTE plan had for ``sc``).

    Every arithmetic expression is the CTE's text verbatim, so the
    per-row values are bit-identical in both engines. The oracle side
    keeps the original CTE; equivalence is hash-proven per SF by
    tools/oracle_check.py on q2/q9/q11/q16/q20.
    """
    from pyspark.sql import functions as F

    from citus_spark.queries import load_views

    load_views(spark, sf_dir)
    step = (
        "(CAST(floor(s / 4.0) AS BIGINT)"
        " + CAST(floor(p_partkey / CAST(s AS DOUBLE)) AS BIGINT))"
    )
    keys = ", ".join(f"(p_partkey + {n} * {step}) % s" for n in range(4))
    sc = spark.table("supplier").selectExpr("CAST(count(*) AS BIGINT) AS s")
    ps = (
        spark.table("part")
        .select("p_partkey")
        .crossJoin(F.broadcast(sc))
        .selectExpr(
            "p_partkey AS ps_partkey",
            f"explode(array_distinct(array({keys}))) AS ps_suppkey",
        )
        .selectExpr(
            "ps_partkey",
            "ps_suppkey",
            "CAST((ps_partkey * 7 + ps_suppkey * 13) % 9999 + 1 AS BIGINT)"
            " AS ps_availqty",
            "CAST((ps_partkey * 31 + ps_suppkey * 17) % 100000 AS DOUBLE)"
            " / 100.0 + 1.0 AS ps_supplycost",
        )
    )
    ps.createOrReplaceTempView("partsupp")


def _register_with_partsupp(
    name: str, body: str, extra_cte: str | None = None
) -> None:
    """Register a query over the derived partsupp: the oracle keeps the
    original ``WITH _PARTSUPP_CTE`` formulation; the Spark side runs the
    same body over the ``partsupp`` view from ``_partsupp_view`` (plan
    shape: one generate pass, no distinct shuffle)."""
    oracle = (
        "WITH " + _PARTSUPP_CTE
        + ("," + extra_cte if extra_cte else "")
        + "\n" + body
    )
    spark_sql = ("WITH " + extra_cte + "\n" if extra_cte else "") + body

    def fn(spark, sf_dir):
        _partsupp_view(spark, sf_dir)
        return spark.sql(spark_sql)

    fn.__name__ = name
    fn.__doc__ = oracle
    register_split(name, fn, oracle)

# ---------------------------------------------------------------------------
# Q1 — pricing summary report.
# Exercises the partial/final aggregate split that is the core of the
# reference's logical optimizer (avg decomposed into sum+count:
# MasterAggregateExpression, multi_logical_optimizer.c:1644). Spark
# plans the identical split natively (HashAggregate partial → Exchange
# → HashAggregate final); avg is spelled sum/count so both engines
# divide identical doubles.
register_shared_sql(
    "tpch_q1",
    f"""
SELECT
  l_returnflag,
  l_linestatus,
  {DSUM("l_quantity", "sum_qty")},
  {DSUM("l_extendedprice", "sum_base_price")},
  {DSUM("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
  {DSUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
  {DAVG("l_quantity", "count(*)", "avg_qty")},
  {DAVG("l_extendedprice", "count(*)", "avg_price")},
  {DAVG("l_discount", "count(*)", "avg_disc")},
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)

# ---------------------------------------------------------------------------
# Q3 — shipping priority (adapted: driver schema has no o_shippriority).
# customer is a reference table (broadcast); orders⋈lineitem is the
# co-located dist-key join (LOCAL_PARTITION_JOIN, multi_join_order.h:34).
#
# Below _BCAST_RESTRUCTURE_MAX_BYTES the Spark side reorders the join
# (guide §3.1 "pick the strategy deliberately"): the stock left-deep
# plan broadcasts the FILTERED LINEITEM (~270 k pruned rows at sf0.1 —
# the single most expensive driver-side hashed-relation build of the
# headline set, 400–1100 ms of q3's timed window per the r11 toRdd
# decomposition) and probes it with the 1-task orders scan. Putting
# lineitem first makes it the streamed side over its fanned-out
# multi-split scan, and the hinted orders/customer builds (~73 k + 3 k
# rows, overlapped as before) replace the 270 k-row one. Pure
# inner-join reassociation — identical results (row parity asserted in
# the A/B); the DuckDB oracle keeps the original form. Above the gate
# the hint would force a linearly-growing orders broadcast, so the
# original text (and at ≥256 MiB, AQE's own runtime choice) returns.
_Q3_SQL = f"""
SELECT
  l_orderkey,
  {DSUM("l_extendedprice * (1 - l_discount)", "revenue")},
  o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < date '1997-03-15'
  AND l_shipdate > date '1997-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""

_Q3_SMALL_SQL = f"""
SELECT /*+ BROADCAST(orders, customer) */
  l_orderkey,
  {DSUM("l_extendedprice * (1 - l_discount)", "revenue")},
  o_orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < date '1997-03-15'
  AND l_shipdate > date '1997-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def _tpch_q3(spark, sf_dir):
    from citus_spark.queries import corpus_bytes, load_views

    load_views(spark, sf_dir)
    small = corpus_bytes(sf_dir) < _BCAST_RESTRUCTURE_MAX_BYTES
    return spark.sql(_Q3_SMALL_SQL if small else _Q3_SQL)


register_split("tpch_q3", _tpch_q3, _Q3_SQL)

# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change. Pure scan+filter+agg: the predicate
# must reach the parquet reader (PushedFilters), mirroring the
# reference's chunk skipping (columnar_reader.c:1133 SelectedChunkMask).
register_shared_sql(
    "tpch_q6",
    f"""
SELECT
  {DSUM("l_extendedprice * l_discount", "revenue")}
FROM lineitem
WHERE l_shipdate >= date '1997-01-01'
  AND l_shipdate < date '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)

# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations.
# supplier/customer/nation are reference tables → broadcast joins;
# lineitem⋈orders co-located. Year extraction cast to BIGINT for
# cross-engine schema parity.
register_shared_sql(
    "tpch_q7",
    f"""
SELECT
  supp_nation,
  cust_nation,
  l_year,
  {DSUM("volume", "revenue")}
FROM (
  SELECT
    n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    CAST(extract(year FROM l_shipdate) AS BIGINT) AS l_year,
    l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN date '1996-01-01' AND date '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)

# ---------------------------------------------------------------------------
# Q10 — returned-item reporting (adapted to available customer columns).
#
# Same sub-gate reorder as q3: the stock plan broadcasts the
# l_returnflag='R' lineitem slice (~150 k pruned rows at sf0.1 — the
# expensive driver-side build) and probes it with the 1-task orders
# scan; streaming lineitem instead leaves only the quarter-filtered
# orders (~5.4 k rows), customer (15 k) and nation builds, which
# overlap. Inner-join reassociation only (row parity asserted in the
# A/B); the DuckDB oracle keeps the original form.
_Q10_SQL = f"""
SELECT
  c_custkey,
  c_name,
  {DSUM("l_extendedprice * (1 - l_discount)", "revenue")},
  c_acctbal,
  n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= date '1996-10-01'
  AND o_orderdate < date '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

_Q10_SMALL_SQL = f"""
SELECT /*+ BROADCAST(orders, customer, nation) */
  c_custkey,
  c_name,
  {DSUM("l_extendedprice * (1 - l_discount)", "revenue")},
  c_acctbal,
  n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= date '1996-10-01'
  AND o_orderdate < date '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def _tpch_q10(spark, sf_dir):
    from citus_spark.queries import corpus_bytes, load_views

    load_views(spark, sf_dir)
    small = corpus_bytes(sf_dir) < _BCAST_RESTRUCTURE_MAX_BYTES
    return spark.sql(_Q10_SMALL_SQL if small else _Q10_SQL)


register_split("tpch_q10", _tpch_q10, _Q10_SQL)

# ---------------------------------------------------------------------------
# Q12 — shipping modes / priority (adapted: no l_shipmode or
# l_commitdate in driver schema; the CASE-sum-over-join plan shape is
# preserved using o_orderpriority buckets grouped by l_linestatus).
register_shared_sql(
    "tpch_q12",
    """
SELECT
  l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= date '1997-01-01'
  AND l_shipdate < date '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)

# ---------------------------------------------------------------------------
# Q14 — promotion effect. part is a reference table → broadcast join;
# ratio of two exact decimal sums divided in double (identical in both
# engines). Driver p_type domain is single words, so PROMO equality
# replaces LIKE 'PROMO%'.
register_shared_sql(
    "tpch_q14",
    """
SELECT
  100.00 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount)
                    ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= date '1997-09-01'
  AND l_shipdate < date '1997-10-01'
""",
)

# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS semi-join; adapted:
# l_commitdate/l_receiptdate absent → large-quantity line as the
# "late" signal).
register_shared_sql(
    "tpch_q4",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= date '1996-07-01'
  AND o_orderdate < date '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)

# ---------------------------------------------------------------------------
# Q8 — national market share: share of one nation's suppliers in a
# region's revenue per year (7-relation join + conditional ratio).
register_shared_sql(
    "tpch_q8",
    """
SELECT o_year,
       CAST(sum(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(sum(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
    AND o_orderdate BETWEEN date '1996-01-01' AND date '1997-12-31'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)

# ---------------------------------------------------------------------------
# Q9 — product type profit, exact shape over the derived partsupp
# (cost = ps_supplycost · l_quantity; see the partsupp derivation
# below Q22). NB: unlike dbgen — where lineitem suppliers are drawn
# FROM partsupp — the fixture's l_suppkey is independent of the
# derived (partkey, suppkey) pairs, so the partsupp join keeps the
# ~4/|supplier| fraction of lines whose supplier happens to be one of
# the part's four; deterministic and identical in both engines.
_Q9_BODY = f"""
SELECT nation, o_year,
       {DSUM("amount", "sum_profit")}
FROM (
  SELECT n_name AS nation,
         CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - ps_supplycost * l_quantity AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

# Spark side (r12): the partsupp JOIN collapses to a per-row predicate.
# partsupp is closed-form arithmetic over part (see _PARTSUPP_CTE):
# the pair (ps_partkey, ps_suppkey) exists iff ps_partkey ∈ part AND
# ps_suppkey ∈ {(ps_partkey + n·step) % s : n = 0..3}, and when it
# exists it is UNIQUE (the CTE's DISTINCT dedupes only within one part
# row's four keys, p_partkey being unique — the same argument that
# proved the r11 explode rewrite). q9's equi-join on BOTH keys is
# therefore equivalent to:
#   - the existing inner JOIN part ON p_partkey = l_partkey
#     (covers "ps_partkey ∈ part"; multiplicity 1 — key is unique), and
#   - a filter l_suppkey IN (the four generated keys for l_partkey)
#     (multiplicity 1 — at most one partsupp row per pair), and
#   - ps_supplycost inlined as the CTE's own expression over the
#     join-equal (l_partkey, l_suppkey).
# Every expression below is _PARTSUPP_CTE text verbatim with the
# join-equal substitution; the DuckDB oracle keeps the original CTE, so
# the hash gate proves the rewrite against an unrewritten reference.
#
# Why it scales (guide §3.1/§3.3, §2.4): the joined-view form built a
# hashed relation of 4·|part| derived rows AND broadcast-built the
# column-pruned orders slice — at native sf3, 2.4 M- and 4.5 M-row
# driver-side builds per execution, the dominant q9 wall (the r12
# sf3-certification diagnosis). The filter form needs neither: the
# predicate keeps at most 4 of |supplier| suppkeys per part, so the
# surviving line-side is ≤ 4·|lineitem|/|supplier| · P(p_name ~ red)
# rows — both factors linear in SF, so the ROW COUNT IS
# SCALE-INVARIANT (measured: 311 rows at sf0.1, 294 at native sf3).
# Broadcasting that side into orders (BROADCAST(lsub), placed in the
# join's own query block and joined to orders FIRST so the hint's
# relation is the direct build side) makes orders the STREAMED side —
# no multi-million-row hashed relation anywhere in the plan, at any
# scale. Interleaved A/B at native sf3: 2.99/3.24 s → 0.74–0.90 s
# steady-state (plans/r12/tpch_q9_{before,after}_sf3.txt).
#
# The supplier count `s` is inlined as a LITERAL, computed once per
# corpus dir at DataFrame-BUILD time and cached in-process (exactly
# like the serial-final NDV gate: catalog-statistics work, never
# inside the bench's timed drain, never persisted across processes).
# A scalar-subquery spelling was measured first and REJECTED: a
# ScalarSubquery inside the per-row IN predicate de-vectorizes the
# filter (18 M-row filter at sf3: 0.32 s literal vs 8.7–18.7 s
# subquery form). The oracle recomputes s independently inside its
# own CTE, so the literal is hash-checked, not trusted. The cache key
# carries the supplier parquet's size and mtime, so a corpus
# regenerated at the same path is counted again.
_SUPPLIER_COUNT_CACHE: dict[tuple, int] = {}


def _supplier_count(spark, sf_dir: str) -> int:
    import os

    path = os.path.abspath(sf_dir)
    st = os.stat(os.path.join(path, "supplier.parquet"))
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _SUPPLIER_COUNT_CACHE:
        _SUPPLIER_COUNT_CACHE[key] = spark.table("supplier").count()
    return _SUPPLIER_COUNT_CACHE[key]


def _q9_spark_sql(s: int) -> str:
    step = (
        f"(CAST(floor({s} / 4.0) AS BIGINT)"
        f" + CAST(floor(l_partkey / CAST({s} AS DOUBLE)) AS BIGINT))"
    )
    keys = ", ".join(
        f"(l_partkey + {n} * {step}) % {s}" for n in range(4)
    )
    return f"""
WITH lsub AS (
  SELECT l_orderkey, l_suppkey,
         l_extendedprice * (1 - l_discount)
           - (CAST((l_partkey * 31 + l_suppkey * 17) % 100000 AS DOUBLE)
              / 100.0 + 1.0) * l_quantity AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
    AND l_suppkey IN ({keys})
)
SELECT nation, o_year,
       {DSUM("amount", "sum_profit")}
FROM (
  SELECT /*+ BROADCAST(lsub) */ n_name AS nation,
         CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
         amount
  FROM lsub
  JOIN orders ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


def _tpch_q9(spark, sf_dir):
    from citus_spark.queries import load_views

    load_views(spark, sf_dir)
    return spark.sql(_q9_spark_sql(_supplier_count(spark, sf_dir)))


register_split("tpch_q9", _tpch_q9, "WITH " + _PARTSUPP_CTE + "\n" + _Q9_BODY)

# ---------------------------------------------------------------------------
# Q15 — top supplier (CTE revenue view + scalar-subquery max).
register_shared_sql(
    "tpch_q15",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= date '1997-01-01'
    AND l_shipdate < date '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)

# ---------------------------------------------------------------------------
# Q16 — part/supplier relationship count, exact shape over the derived
# partsupp (distinct-agg + NOT IN anti-join; p_type <> filter stands in
# for the NOT LIKE over the fixture's single-word type domain).
_register_with_partsupp(
    "tpch_q16",
    f"""
SELECT p_brand, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
""",
)

# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (adapted: returnflag 'R'
# replaces the late-delivery predicate; keeps the correlated
# EXISTS + NOT EXISTS double-subquery shape).
register_shared_sql(
    "tpch_q21",
    """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
  AND n_name = 'NATION_5'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)

# ---------------------------------------------------------------------------
# Q5 — local supplier volume: the reference's largest join graph shape
# (6-way join with the customer-nation = supplier-nation equality).
register_shared_sql(
    "tpch_q5",
    f"""
SELECT
  n_name,
  {DSUM("l_extendedprice * (1 - l_discount)", "revenue")}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= date '1996-01-01'
  AND o_orderdate < date '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)

# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (left join + double grouping).
register_shared_sql(
    "tpch_q13",
    """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)

# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: correlated average subquery per
# part. l_quantity is integer-valued, so double sums are exact in any
# order and the avg threshold is engine-independent.
register_shared_sql(
    "tpch_q17",
    """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
)

# ---------------------------------------------------------------------------
# Q18 — large-volume customers (IN over grouped HAVING subquery).
register_shared_sql(
    "tpch_q18",
    """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)

# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (adapted: no c_phone → country code
# from the customer id digits; "no orders" → "no urgent orders" so the
# anti-join selects a non-empty set on the fixture data).
register_shared_sql(
    "tpch_q22",
    f"""
SELECT cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       {DSUM("c_acctbal", "totacctbal")}
FROM (
  SELECT right(c_name, 2) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                                 AS DOUBLE) / count(*)
                     FROM customer WHERE c_acctbal > 0.0)
) cust
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
ORDER BY cntrycode
""",
)

# Q2 — minimum-cost supplier (exact shape: correlated min subquery over
# the region-filtered partsupp; adapted only in the projected supplier
# columns the fixture lacks: s_address/s_phone/s_comment → s_acctbal).
_register_with_partsupp(
    "tpch_q2",
    f"""
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
FROM part
JOIN partsupp ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size IN (15, 25, 35)
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps2.ps_supplycost)
    FROM partsupp ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)

# Q11 — important stock identification (exact shape: grouped value sum
# with a global-fraction HAVING subquery; NATION_7 stands in for
# GERMANY).
_register_with_partsupp(
    "tpch_q11",
    """
SELECT ps_partkey,
       CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS value
FROM natps
GROUP BY ps_partkey
HAVING CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) >
       (SELECT CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) * 0.005
        FROM natps)
ORDER BY value DESC, ps_partkey
""",
    extra_cte="""
natps AS (
  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
)""",
)

# Q20 — suppliers with excess stock (exact shape: IN → IN → correlated
# half-of-shipped-quantity subquery; 'red%' parts, NATION_2).
_register_with_partsupp(
    "tpch_q20",
    f"""
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  WHERE ps_partkey IN (SELECT p_partkey FROM part
                       WHERE p_name LIKE 'red%')
    AND ps_availqty > (
      SELECT 0.5 * sum(l_quantity) FROM lineitem
      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        AND l_shipdate >= date '1996-01-01'
        AND l_shipdate < date '1997-01-01'))
  AND n_name = 'NATION_2'
ORDER BY s_name
""",
)

# ---------------------------------------------------------------------------
# Q19 — discounted revenue, disjunctive predicate (adapted: p_container
# and l_shipinstruct absent; brand/size/quantity OR-of-ANDs keeps the
# DNF pushdown shape the reference prunes with, shard_pruning.c:314).
register_shared_sql(
    "tpch_q19",
    f"""
SELECT
  {DSUM("l_extendedprice * (1 - l_discount)", "revenue")}
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
