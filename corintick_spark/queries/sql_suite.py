"""The verbatim-SQL surface, wave 2: TPC-H Q6-Q22 over the driver schema.

Extends the sql_q1/q3/q5 tier (queries/relational.py) to the full set of
TPC-H classics expressible on the driver's trimmed schema. Each entry is
ONE dialect-neutral SQL text executed VERBATIM by both Spark SQL (over
``catalog.register_views`` temp views) and the DuckDB oracle — the
strongest possible parity statement for the SQL half of the API surface
(the reference exposed query-by-API only; SURVEY.md §2.1 † notes analytics
happened client-side, so a SQL surface is the Spark-native replacement).

Schema adaptations (the driver testdata omits partsupp, l_commitdate /
l_receiptdate / l_shipmode / l_shipinstruct, p_container / p_mfgr,
c_phone / c_address / o_comment):

- Q13 substitutes an ``o_orderpriority`` exclusion for the o_comment
  NOT-LIKE filter (same left-join + double-aggregation shape).
- Q16 derives the part↔supplier association from lineitem instead of the
  missing partsupp (same distinct-supplier-count shape).
- Q17's "avg yearly" gate is evaluated in scaled-long integer arithmetic
  (qty·100·5·n < Σqty·100) so the 0.2·avg comparison is bit-identical in
  both engines — a double AVG would make row membership engine-dependent.
- Q19 keys its OR-arms on p_brand + p_size ranges instead of p_container;
  the join stays equi (p_partkey) with the OR as a residual filter.
- Q22 buckets by c_nationkey instead of the phone country code, and
  "without orders" becomes "without orders since 2000-01-01" (every
  customer has life-time orders in this data).
- Q2/Q4/Q9/Q11/Q12/Q20/Q21 need columns that do not exist in any form
  (supplycost, commit/receipt dates, shipmode); wave 3 (end of this file)
  adapts each so its defining plan shape survives — correlated-scalar
  arg-min (Q2), correlated non-equi EXISTS (Q4), LIKE-gated profit rollup
  (Q9), HAVING vs global scalar (Q11), derived-bucket conditional counts
  (Q12), nested IN over a correlated-threshold aggregate (Q20), paired
  EXISTS/NOT-EXISTS self-joins (Q21) — completing all 22 TPC-H shapes.

Float determinism follows corintick_spark.exact: money sums are
scaled-long (``CAST(round(x*10000) AS BIGINT)``), ratio outputs are
FLOOR-quantized (``FLOOR(x*1e6)/1e6`` — ROUND(x, 6) is not portable on
doubles, see exact.q6), and every ORDER BY carries a unique tiebreak.

Scale notes: these plans are exactly what Catalyst should produce at
100 TB — dimension joins (nation/region/part/supplier) broadcast, fact
joins (lineitem⋈orders) shuffle on their keys with AQE skew handling,
aggregates are partial+final, LIMIT+ORDER BY becomes
TakeOrderedAndProject, and the IN/EXISTS subqueries decorrelate to
semi/anti hash joins (plan-pinned in tests/test_plans.py for the q18/q22
shapes via the invariant sweep).
"""

from __future__ import annotations

from corintick_spark.catalog import register_views
from corintick_spark.registry import query


def _run(spark, sf_dir, sql_text, *tables):
    register_views(spark, sf_dir, *tables)
    return spark.sql(sql_text)


# Q6 — forecast revenue change: the canonical full-scan predicate +
# single global aggregate. At 100 TB this is a pure map-side query: the
# shipdate/discount/quantity predicates all push to parquet row-group
# stats, and the partial sums collapse into one exchange of one row.
_SQL_Q6 = """
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000)
                         AS BIGINT)) AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
"""


@query("sql_q6", sql=_SQL_Q6)
def sql_q6(spark, sf_dir):
    """TPC-H Q6 via spark.sql — same text as the oracle."""
    return _run(spark, sf_dir, _SQL_Q6, "lineitem")


# Q7 — volume shipping between two nations: the two-role nation join
# (n1 = supplier side, n2 = customer side). Both nation joins broadcast;
# the OR'd nation-pair predicate prunes before the fact shuffle.
_SQL_Q7 = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(round(volume * 10000) AS BIGINT)) AS DOUBLE)
               / 10000 AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@query("sql_q7", sql=_SQL_Q7)
def sql_q7(spark, sf_dir):
    """TPC-H Q7 via spark.sql — same text as the oracle."""
    return _run(
        spark, sf_dir, _SQL_Q7,
        "supplier", "lineitem", "orders", "customer", "nation",
    )


# Q8 — national market share: numerator/denominator as one conditional
# aggregation over scaled longs; the share is FLOOR-quantized (portable,
# unlike ROUND — exact.q6). Seven broadcastable dims around one fact scan.
_SQL_Q8 = """
    SELECT o_year,
           FLOOR(CAST(SUM(CASE WHEN nation = 'NATION_3'
                               THEN vol_scaled ELSE 0 END) AS DOUBLE)
                 * 1000000 / SUM(vol_scaled)) / 1000000 AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                    AS BIGINT) AS vol_scaled,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'AMERICA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND p.p_type = 'STANDARD'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


@query("sql_q8", sql=_SQL_Q8)
def sql_q8(spark, sf_dir):
    """TPC-H Q8 via spark.sql — same text as the oracle."""
    return _run(
        spark, sf_dir, _SQL_Q8,
        "part", "lineitem", "supplier", "orders", "customer", "nation",
        "region",
    )


# Q10 — returned-item reporting: quarter of orders x returned lineitems,
# revenue-ranked customers. Top-20 with a c_custkey tiebreak →
# TakeOrderedAndProject (no global sort materialization).
_SQL_Q10 = """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                               * 10000) AS BIGINT)) AS DOUBLE) / 10000
               AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@query("sql_q10", sql=_SQL_Q10)
def sql_q10(spark, sf_dir):
    """TPC-H Q10 via spark.sql — same text as the oracle."""
    return _run(
        spark, sf_dir, _SQL_Q10, "customer", "orders", "lineitem", "nation",
    )


# Q13 — customer order-count distribution: LEFT JOIN keeps order-less
# customers (c_count = 0), then a second aggregation over the counts.
# Adapted: the o_comment NOT-LIKE exclusion becomes an o_orderpriority
# exclusion (same join-side filter position — it must sit in the ON
# clause, not WHERE, to preserve the left join's null rows).
_SQL_Q13 = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query("sql_q13", sql=_SQL_Q13)
def sql_q13(spark, sf_dir):
    """TPC-H Q13 (priority-exclusion adaptation) via spark.sql."""
    return _run(spark, sf_dir, _SQL_Q13, "customer", "orders")


# Q14 — promotion effect: conditional share of one month's revenue.
# FLOOR-quantized ratio of two exact scaled-long sums.
_SQL_Q14 = """
    SELECT FLOOR(100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                    * 10000) AS BIGINT)
                    ELSE 0 END) AS DOUBLE)
                 * 1000000
                 / SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT))) / 1000000
               AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


@query("sql_q14", sql=_SQL_Q14)
def sql_q14(spark, sf_dir):
    """TPC-H Q14 via spark.sql — same text as the oracle."""
    return _run(spark, sf_dir, _SQL_Q14, "lineitem", "part")


# Q15 — top supplier: CTE referenced twice (group + scalar-subquery MAX).
# The MAX comparison happens on the exact scaled long, so the winning
# supplier set is engine-independent even under revenue ties.
_SQL_Q15 = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)) AS total_scaled
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_scaled AS DOUBLE) / 10000 AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_scaled = (SELECT MAX(total_scaled) FROM revenue)
    ORDER BY s.s_suppkey
"""


@query("sql_q15", sql=_SQL_Q15)
def sql_q15(spark, sf_dir):
    """TPC-H Q15 via spark.sql — same text as the oracle."""
    return _run(spark, sf_dir, _SQL_Q15, "lineitem", "supplier")


# Q16 — supplier-count by part attributes, with the part↔supplier
# association derived from lineitem (partsupp does not exist here).
# COUNT(DISTINCT l_suppkey) is a two-phase distinct aggregate — at scale
# Catalyst expands it to a partial-distinct + final count (no naive
# global distinct materialization).
_SQL_Q16 = """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@query("sql_q16", sql=_SQL_Q16)
def sql_q16(spark, sf_dir):
    """TPC-H Q16 (lineitem-derived association) via spark.sql."""
    return _run(spark, sf_dir, _SQL_Q16, "lineitem", "part")


# Q17 — small-quantity-order revenue: the correlated 0.2·avg(qty) gate,
# decorrelated into a per-part aggregate CTE and evaluated in pure
# integer arithmetic (qty·100 · 5 · n < Σ(qty·100)) so row membership is
# bit-identical across engines. The per-part aggregate is a broadcastable
# side at any scale (|part| rows).
_SQL_Q17 = """
    WITH part_avg AS (
        SELECT l_partkey,
               SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_scaled,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS DOUBLE) / 100 / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND CAST(round(l.l_quantity * 100) AS BIGINT) * 5 * a.n < a.qty_scaled
"""


@query("sql_q17", sql=_SQL_Q17)
def sql_q17(spark, sf_dir):
    """TPC-H Q17 (integer-exact avg gate) via spark.sql."""
    return _run(spark, sf_dir, _SQL_Q17, "lineitem", "part")


# Q18 — large-volume customers: IN over a HAVING subquery → left semi
# hash join on orderkey; the 300-unit threshold compares scaled longs.
_SQL_Q18 = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 30000
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""


@query("sql_q18", sql=_SQL_Q18)
def sql_q18(spark, sf_dir):
    """TPC-H Q18 via spark.sql — same text as the oracle."""
    return _run(spark, sf_dir, _SQL_Q18, "customer", "orders", "lineitem")


# Q19 — discounted revenue over three OR'd brand/size/quantity arms.
# Adapted: p_container → p_size ranges. The part join remains a plain
# equi-join on p_partkey; the OR block is a residual filter after it —
# Catalyst must NOT plan a cartesian here (covered by the global
# no-CartesianProduct invariant sweep).
_SQL_Q19 = """
    SELECT CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                               * 10000) AS BIGINT)) AS DOUBLE) / 10000
               AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size >= 1 AND p.p_size <= 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#20' AND p.p_size >= 1 AND p.p_size <= 20
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size >= 1 AND p.p_size <= 25
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


@query("sql_q19", sql=_SQL_Q19)
def sql_q19(spark, sf_dir):
    """TPC-H Q19 (brand/size arms) via spark.sql."""
    return _run(spark, sf_dir, _SQL_Q19, "lineitem", "part")


# Q22 — global sales opportunity: above-average positive balances with no
# recent orders. The 1-row average CTE cross-joins in (broadcast
# nested-loop of one row — NOT a cartesian); the balance comparison is
# integer-exact (bal·100 · n > Σ(bal·100)); NOT EXISTS decorrelates to an
# anti hash join on custkey.
_SQL_Q22 = """
    WITH pos AS (
        SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_scaled,
               COUNT(*) AS n
        FROM customer
        WHERE c_acctbal > 0.0
          AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    )
    SELECT c.c_nationkey AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS totacctbal
    FROM customer c CROSS JOIN pos
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.bal_scaled
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
"""


@query("sql_q22", sql=_SQL_Q22)
def sql_q22(spark, sf_dir):
    """TPC-H Q22 (nationkey buckets, recent-order anti-join) via
    spark.sql."""
    return _run(spark, sf_dir, _SQL_Q22, "customer", "orders")


# WITH RECURSIVE (new in Spark 4.0 — SPARK-24497): min-hop reachability
# from nation 0 over the observed trade graph (customer-nation →
# supplier-nation edges). The SAME recursive SQL text runs in both
# engines — the recursion's working set is bounded by the 25-node nation
# graph regardless of fact size, and the edge derivation is the usual
# fact-join + DISTINCT (shuffle on the 625-cell pair space). Depth-capped
# at 3 so the UNION ALL expansion stays finite on a dense graph in both
# engines' semantics.
_SQL_RECURSIVE = """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ), reach(nation, hops) AS (
        SELECT CAST(0 AS INTEGER) AS nation, 0 AS hops
        UNION ALL
        SELECT e.dst AS nation, r.hops + 1 AS hops
        FROM reach r JOIN edges e ON e.src = r.nation
        WHERE r.hops < 3
    )
    SELECT nation, MIN(hops) AS min_hops
    FROM reach
    GROUP BY nation
    ORDER BY nation
"""


@query("sql_recursive", sql=_SQL_RECURSIVE)
def sql_recursive(spark, sf_dir):
    """Recursive-CTE reachability (min hops from nation 0); the oracle
    runs the verbatim text above.

    Spark side (round 11, guide §2.4): UnionLoopExec re-executes the
    recursion's plan each iteration, and the non-recursive ``edges`` CTE
    is INLINED into the loop body — the 3-fact-table join + DISTINCT ran
    once per hop (4x at depth 3; confirmed in
    plans/r11/sql_recursive_before.txt, Joins 12/17/22 under
    UnionLoop(1)). Materializing the 625-cell-bounded edge table ONCE
    (localCheckpoint + temp view) and recursing over it leaves the
    recursion semantics — and the result, differential-pinned exact —
    unchanged while the fact join runs exactly once."""
    register_views(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    edges = spark.sql("""
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    """).localCheckpoint(eager=True)
    edges.createOrReplaceTempView("edges_mat_recursive")
    return spark.sql("""
        WITH RECURSIVE reach(nation, hops) AS (
            SELECT CAST(0 AS INTEGER) AS nation, 0 AS hops
            UNION ALL
            SELECT e.dst AS nation, r.hops + 1 AS hops
            FROM reach r JOIN edges_mat_recursive e ON e.src = r.nation
            WHERE r.hops < 3
        )
        SELECT nation, MIN(hops) AS min_hops
        FROM reach
        GROUP BY nation
        ORDER BY nation
    """)


# LATERAL correlated subquery with per-row ORDER BY + LIMIT — the SQL-
# standard top-k-per-group spelling (Spark 4 decorrelates it; the
# DataFrame equivalent is the window row_number pattern of
# topk_per_group). Ties broken by o_orderkey in both engines.
_SQL_LATERAL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


@query("sql_lateral", sql=_SQL_LATERAL)
def sql_lateral(spark, sf_dir):
    """LATERAL top-2 orders per customer via spark.sql — same text as the
    oracle."""
    return _run(spark, sf_dir, _SQL_LATERAL, "customer", "orders")


# Verbatim window-function SQL: ranking + running share inside one text.
# The share divides two exact scaled-long window sums evaluated over
# deterministic frames; rank ties are impossible (revenue ties broken by
# nation inside the rank's ORDER BY).
_SQL_WFUNC = """
    WITH rev AS (
        SELECT n.n_name,
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                              * 10000) AS BIGINT)) AS r_scaled
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name,
           CAST(r_scaled AS DOUBLE) / 10000 AS revenue,
           CAST(RANK() OVER (ORDER BY r_scaled DESC, n_name) AS BIGINT)
               AS rev_rank,
           FLOOR(CAST(SUM(r_scaled) OVER (ORDER BY r_scaled DESC, n_name
                                          ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE) * 1000000
                 / SUM(r_scaled) OVER ()) / 1000000 AS cum_share
    FROM rev
    ORDER BY rev_rank
"""


@query("sql_wfunc", sql=_SQL_WFUNC)
def sql_wfunc(spark, sf_dir):
    """Window functions (rank + cumulative share) as one verbatim SQL
    text in both engines."""
    return _run(
        spark, sf_dir, _SQL_WFUNC, "lineitem", "orders", "customer", "nation",
    )


# Verbatim GROUPING SETS with the GROUPING() disambiguator — the explicit
# multi-grouping syntax (agg_rollup/agg_cube cover the sugar forms through
# the DataFrame API; this is the SQL-standard general form, same text in
# both engines). Catalyst plans one Expand + single aggregate — one scan
# for all three groupings.
_SQL_GSETS = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
"""


@query("sql_groupingsets", sql=_SQL_GSETS)
def sql_groupingsets(spark, sf_dir):
    """Explicit GROUPING SETS + GROUPING() via one verbatim SQL text."""
    return _run(spark, sf_dir, _SQL_GSETS, "orders")


# ---------------------------------------------------------------------------
# Wave 3: the seven TPC-H queries whose ORIGINAL columns don't exist in the
# driver schema (partsupp, l_commitdate/l_receiptdate/l_shipmode), adapted
# so their defining PLAN SHAPES survive intact: Q2's correlated-scalar
# arg-min, Q4's correlated non-equi EXISTS, Q9's LIKE-gated profit rollup,
# Q11's HAVING-vs-global-scalar, Q12's derived-bucket conditional counts,
# Q20's nested IN over a correlated-threshold aggregate, Q21's paired
# EXISTS / NOT-EXISTS self-joins. Substitutions per query are documented
# inline; every one is a single dialect-neutral text run verbatim by both
# engines, with scaled-long exactness wherever row MEMBERSHIP or an output
# value depends on an aggregate.
# ---------------------------------------------------------------------------


# Q2 — minimum-cost supplier: the partsupp "cost" becomes s_acctbal and the
# part↔supplier association derives from lineitem (as Q16 already does).
# The defining shape is intact: a correlated scalar subquery computing the
# per-part regional minimum, equated against the outer join's value —
# Catalyst decorrelates it to an aggregate + join, DuckDB to a window;
# equality on the raw parquet double is exact in both (MIN selects, never
# arithmetizes). DISTINCT collapses the lineitem-induced multiplicity that
# partsupp's uniqueness used to guarantee.
_SQL_Q2 = """
    SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size = 10 AND p.p_type = 'ECONOMY' AND r.r_name = 'AMERICA'
      AND s.s_acctbal = (
          SELECT MIN(s2.s_acctbal)
          FROM lineitem l2
          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'AMERICA'
      )
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
"""


@query("sql_q2", sql=_SQL_Q2)
def sql_q2(spark, sf_dir):
    """TPC-H Q2 shape (correlated-scalar arg-min supplier) via spark.sql."""
    return _run(
        spark, sf_dir, _SQL_Q2,
        "part", "lineitem", "supplier", "nation", "region",
    )


# Q4 — order-priority checking. "Late" (l_commitdate < l_receiptdate) has
# no source columns; the adapted predicate is shipment >90 days after the
# order date — which preserves the interesting part, a correlated EXISTS
# whose condition references the OUTER row non-equijoin-wise
# (l.l_shipdate > o.o_orderdate + ...). Catalyst plans a left-semi hash
# join on orderkey with the date inequality as a residual condition.
_SQL_Q4 = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query("sql_q4", sql=_SQL_Q4)
def sql_q4(spark, sf_dir):
    """TPC-H Q4 shape (correlated non-equi EXISTS) via spark.sql."""
    return _run(spark, sf_dir, _SQL_Q4, "orders", "lineitem")


# Q9 — product-type profit by nation and year. ps_supplycost is absent, so
# unit cost is proxied as 10% of p_retailprice (documented adaptation; the
# plan shape — LIKE-gated part dim, four joins around the fact, year
# extraction, two-key rollup — is unchanged). Profit is rounded to scaled
# long PER ROW before summing, so group totals are exact in both engines.
_SQL_Q9 = """
    SELECT nation, o_year,
           CAST(SUM(amount_scaled) AS DOUBLE) / 10000 AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
               CAST(round((l.l_extendedprice * (1 - l.l_discount)
                           - 0.1 * p.p_retailprice * l.l_quantity) * 10000)
                    AS BIGINT) AS amount_scaled
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%plate%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


@query("sql_q9", sql=_SQL_Q9)
def sql_q9(spark, sf_dir):
    """TPC-H Q9 shape (LIKE-gated profit rollup) via spark.sql."""
    return _run(
        spark, sf_dir, _SQL_Q9,
        "part", "lineitem", "supplier", "orders", "nation",
    )


# Q11 — important stock. partsupp value becomes shipped quantity by the
# chosen nation's suppliers, but the defining shape stays: a grouped sum
# filtered by HAVING against an UNCORRELATED scalar subquery over the same
# filtered fact — the global threshold forces one extra full aggregate
# that Catalyst evaluates once as a subquery-scalar and broadcasts into
# the filter. Both sides and the threshold are scaled-long; membership is
# an exact integer comparison (fraction 1/1000 expressed as ×1000 vs ×1).
_SQL_Q11 = """
    SELECT l.l_partkey AS p_partkey,
           CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS part_value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_5'
    GROUP BY l.l_partkey
    HAVING SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) * 1000 > (
        SELECT SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        WHERE n2.n_name = 'NATION_5'
    )
    ORDER BY part_value DESC, p_partkey
"""


@query("sql_q11", sql=_SQL_Q11)
def sql_q11(spark, sf_dir):
    """TPC-H Q11 shape (HAVING vs global scalar subquery) via spark.sql."""
    return _run(spark, sf_dir, _SQL_Q11, "lineitem", "supplier", "nation")


# Q12 — shipping-mode priority counts. l_shipmode is absent; the bucket is
# derived from shipping latency (CASE over date arithmetic), keeping the
# shape: fact join, bucket column, paired conditional counts over
# o_orderpriority. Counts are integers — exact by construction.
_SQL_Q12 = """
    SELECT ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
        SELECT CASE
                 WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
                   THEN 'FAST'
                 WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
                   THEN 'MEDIUM'
                 ELSE 'SLOW'
               END AS ship_bucket,
               o.o_orderpriority
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY ship_bucket
    ORDER BY ship_bucket
"""


@query("sql_q12", sql=_SQL_Q12)
def sql_q12(spark, sf_dir):
    """TPC-H Q12 shape (latency buckets, conditional counts) via
    spark.sql."""
    return _run(spark, sf_dir, _SQL_Q12, "orders", "lineitem")


# Q20 — excess-inventory suppliers. The partsupp availqty-vs-half-demand
# gate becomes: suppliers who shipped MORE THAN HALF of some blue part's
# 1997 volume (dominant supplier). The nested structure is intact: outer
# IN over a grouped derived table, whose filter is a CORRELATED scalar
# subquery re-aggregating the fact per part — all in exact scaled-long
# integers, so dominance membership can't flap between engines.
_SQL_Q20 = """
    SELECT s.s_suppkey, s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT sp.l_suppkey
        FROM (
            SELECT l.l_suppkey, l.l_partkey,
                   SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS q
            FROM lineitem l
            WHERE l.l_partkey IN (
                    SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'
                  )
              AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l.l_suppkey, l.l_partkey
        ) sp
        WHERE sp.q * 2 > (
            SELECT SUM(CAST(round(l2.l_quantity * 100) AS BIGINT))
            FROM lineitem l2
            WHERE l2.l_partkey = sp.l_partkey
              AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
    )
    ORDER BY s.s_suppkey
"""


@query("sql_q20", sql=_SQL_Q20)
def sql_q20(spark, sf_dir):
    """TPC-H Q20 shape (nested IN over correlated-threshold agg) via
    spark.sql."""
    return _run(spark, sf_dir, _SQL_Q20, "supplier", "lineitem", "part")


# Q21 — suppliers who kept orders waiting. "Late" is adapted as >60 days
# after the order date (no commit/receipt dates), preserving the hard
# part: a multi-supplier EXISTS plus a sole-late-supplier NOT EXISTS, both
# self-joins on lineitem correlated to the outer fact row AND (for the
# NOT EXISTS) to the outer orders row non-equijoin-wise. Catalyst plans a
# semi + anti hash join pair on orderkey with residual conditions.
_SQL_Q21 = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
"""


@query("sql_q21", sql=_SQL_Q21)
def sql_q21(spark, sf_dir):
    """TPC-H Q21 shape (EXISTS + NOT-EXISTS self-join pair) via
    spark.sql."""
    return _run(spark, sf_dir, _SQL_Q21, "supplier", "lineitem", "orders")


# Spark 4 SQL UDFs (SPARK-44076): CREATE FUNCTION ... RETURN <expr> —
# named, typed, catalog-managed scalar functions whose bodies Catalyst
# INLINES into the calling plan (they stay whole-stage-codegen JVM
# expressions, unlike Python UDFs; the physical plan is identical to
# writing the expression inline, which is exactly what the DuckDB oracle
# does). The query defines a discounted-price function and a quantity
# band function, then aggregates through them.
_SQL_UDF_BODY = """
    SELECT l_returnflag,
           band(l_quantity) AS qband,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(disc_price(l_extendedprice, l_discount)
                               * 10000) AS BIGINT)) AS DOUBLE) / 10000
               AS revenue
    FROM lineitem
    GROUP BY l_returnflag, band(l_quantity)
    ORDER BY l_returnflag, qband
"""


@query(
    "sql_udf",
    sql="""
    SELECT l_returnflag,
           CASE WHEN l_quantity > 30 THEN 'hi'
                WHEN l_quantity > 10 THEN 'mid'
                ELSE 'lo' END AS qband,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * 10000) AS BIGINT)) AS DOUBLE) / 10000
               AS revenue
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def sql_udf(spark, sf_dir):
    """SQL-defined scalar functions (CREATE FUNCTION ... RETURN) inlined
    by Catalyst; the oracle writes the same expressions inline."""
    register_views(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION band(q DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN q > 30 THEN 'hi' WHEN q > 10 THEN 'mid' "
        "ELSE 'lo' END"
    )
    return spark.sql(_SQL_UDF_BODY)


# Spark 4 SQL scripting (SPARK-48338): BEGIN/DECLARE/WHILE/IF procedural
# blocks. The script binary-searches the smallest integer quantity
# threshold covering half the lineitem rows — a genuinely ITERATIVE
# computation (each probe is a full query against the fact table, the
# loop state lives in session variables) whose FIXPOINT has a closed
# form: the minimal present quantity whose cumulative count reaches n/2.
# The DuckDB oracle computes that closed form; agreement proves the
# scripted control flow converges to the declarative answer. All-integer
# comparisons — no membership can flap on float rounding.
_SQL_SCRIPT = """
    BEGIN
      DECLARE lo INT DEFAULT -1;
      DECLARE hi INT DEFAULT 51;
      DECLARE mid INT;
      DECLARE cnt BIGINT;
      DECLARE n BIGINT;
      SET n = (SELECT COUNT(*) FROM lineitem);
      WHILE lo < hi - 1 DO
        SET mid = CAST((lo + hi) / 2 AS INT);
        SET cnt = (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= mid);
        IF cnt * 2 >= n THEN
          SET hi = mid;
        ELSE
          SET lo = mid;
        END IF;
      END WHILE;
      SELECT CAST(hi AS BIGINT) AS median_qty, n AS n_rows;
    END
"""


@query(
    "sql_scripting",
    sql="""
    WITH n AS (SELECT COUNT(*) AS n FROM lineitem),
    c AS (
        SELECT CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1
    ),
    cum AS (SELECT q, SUM(cnt) OVER (ORDER BY q) AS cc FROM c)
    SELECT COALESCE(
               (SELECT MIN(q) FROM cum, n WHERE cc * 2 >= n.n), 0
           ) AS median_qty,
           (SELECT n FROM n) AS n_rows
    """,
)
def sql_scripting(spark, sf_dir):
    """Procedural SQL script (binary-search median quantity) vs the
    closed-form declarative oracle."""
    register_views(spark, sf_dir, "lineitem")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(_SQL_SCRIPT)
