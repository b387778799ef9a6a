"""Exact distributed order statistics WITHOUT a global sort.

The 100 TB problem: exact median/quantile of a column. `ORDER BY` +
row_number is a full global sort (one massive range exchange);
`percentile()` builds a per-group value buffer (memory ∝ group size).
The classic fix is ITERATIVE BUCKET SELECTION: each pass histograms the
candidate value range into ≤65,536 buckets with ONE partial-aggregated
count pass (map-side combine → at most 65,536 rows cross the wire),
locates the bucket containing the k-th order statistic, and recurses into
it. An integer domain of width W needs ceil(log_65536(W)) + 1 passes — 2
passes for 32-bit-wide domains, 3 for 64-bit — each a plain scan+agg that
Catalyst pushes column pruning into. No sort, no per-group buffers, no
driver data besides the ≤65,536-row histogram.

Semantics: k-th smallest of the multiset (1-indexed), duplicates counted
— `kth_smallest(df, col, ceil(q*n))` is the discrete q-quantile
(percentile_disc). Exact for any integral column; doubles should be
scaled to integers by the caller (e.g. cents) to keep bucket arithmetic
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from corintick_spark.operators.ckpt import materialize
from corintick_spark.session import local_relation

BUCKETS = 1 << 16


def kth_smallest(
    df: DataFrame, col: str, k: int, head: "tuple | None" = None
) -> int:
    """Exact k-th smallest (1-indexed) of an integral column; NULLs are
    excluded (SQL ordering semantics). Raises on k out of range.

    ``head``: optional precomputed (min, max, count) of the non-null
    values — callers that already paid a stats pass (exact_quantile's
    count, a caller-level total) hand it in so the column is not scanned
    again for the same three numbers (round 11, guide §1.2: don't compute
    things twice)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    vals = df.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("bigint").alias("x")
    )
    if head is None:
        head = vals.agg(
            F.min("x"), F.max("x"), F.count(F.lit(1))
        ).first()
    lo, hi, n = head
    if n == 0 or k > n:
        raise ValueError(f"k={k} outside the column's {n} non-null rows")
    lo, hi = int(lo), int(hi)
    remaining = k
    while hi > lo:
        width = hi - lo + 1
        # ceil-div bucket size so bucket ids stay < BUCKETS
        size = -(-width // BUCKETS)
        hist = (
            vals.filter((F.col("x") >= lo) & (F.col("x") <= hi))
            .groupBy(F.expr(f"(x - {lo}) div {size}").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        counts = {int(r["b"]): int(r["c"]) for r in hist}
        cum = 0
        for b in sorted(counts):
            if cum + counts[b] >= remaining:
                remaining -= cum
                lo, hi = lo + b * size, min(hi, lo + b * size + size - 1)
                break
            cum += counts[b]
        else:  # pragma: no cover - guarded by the k<=n check
            raise AssertionError("rank ran past the histogram")
        if size == 1:
            return lo
    return lo


def exact_quantile(
    df: DataFrame, col: str, q: float, with_count: bool = False
):
    """Discrete q-quantile (percentile_disc): the smallest value whose
    rank reaches ceil(q*n). q in (0, 1].

    ``with_count=True`` returns ``(value, n_non_null)`` — n falls out of
    the single stats pass the selection needs anyway (round 11: the old
    shape scanned the column once for n here and again for min/max/count
    inside kth_smallest)."""
    if not 0 < q <= 1:
        raise ValueError("q must be in (0, 1]")
    vals = df.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("bigint").alias("x")
    )
    head = vals.agg(F.min("x"), F.max("x"), F.count(F.lit(1))).first()
    n = int(head[2])
    if n == 0:
        raise ValueError("no non-null rows")
    k = -(-int(q * 1_000_000 * n) // 1_000_000)  # ceil(q*n) sans fp drift
    v = kth_smallest(df, col, max(1, k), head=head)
    return (v, n) if with_count else v


GROUPS_MAX = 100_000


def _grouped_refine(df: DataFrame, group: str, col: str, qs: "list[float]") -> DataFrame:
    """Shared engine for :func:`grouped_quantile` / :func:`grouped_quantiles`:
    simultaneous per-(group, q) bucket selection with FULLY DISTRIBUTED
    refinement state.

    Every pass is ONE histogram aggregation keyed by (group, q, bucket) —
    buckets computed against each pair's own candidate range via a
    broadcast bounds table — so the pass count is max-over-targets (2-3
    for integer domains), never #groups. Unlike a driver-side refinement
    loop (which would collect up to groups x 65,536 histogram rows per
    pass — a driver OOM at 100 TB with high-cardinality groups over wide
    domains), each pass locates every pair's k-th bucket IN-PLAN with a
    per-(g, q) cumulative-sum window over the histogram DataFrame and the
    surviving (g, q, lo, hi, k) bounds stay a distributed
    (localCheckpointed) frame: the only driver traffic per pass is the
    still-active pair count, read off the pass's own checkpoint job. The
    loop runs until no pair is active (every pass narrows each active
    range, so it needs no cap). GROUPS_MAX bounds the BROADCAST of the
    bounds table (one row per active pair), not driver rows.

    Bucket arithmetic runs in DECIMAL so a full-width 64-bit domain
    (hi - lo + 1 = 2^64) cannot overflow BIGINT under ANSI; bucket ids
    divide non-negative offsets, so truncating `div` equals floor.

    Returns a DataFrame (g, q, value); NULL `col` values excluded per
    group, null-only groups absent."""
    spark = df.sparkSession
    vals = df.filter(F.col(col).isNotNull()).select(
        F.col(group).alias("g"), F.col(col).cast("bigint").alias("x")
    )
    head = vals.groupBy("g").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    # rank k = max(1, ceil(q*n)), fp-drift-free: q is quantized to ppm on
    # the driver; ceil-div is then exact bigint arithmetic in-plan
    qdf = local_relation(
        spark,
        StructType([StructField("q", DoubleType()), StructField("qm", LongType())]),
        [[float(q) for q in qs], [int(round(q * 1_000_000)) for q in qs]],
    )
    bounds = head.crossJoin(F.broadcast(qdf)).select(
        "g",
        "q",
        "lo",
        "hi",
        F.expr("greatest(1L, (qm * n + 999999) div 1000000)").alias("k"),
    )
    # pairs whose candidate range is still wider than one value
    active = F.count(F.when(F.col("lo") < F.col("hi"), 1))
    bounds, st = materialize(bounds, active=active)
    n_pairs = st["rows"]
    if n_pairs > GROUPS_MAX:
        raise ValueError(
            f"{n_pairs // len(qs)} groups x {len(qs)} quantiles exceeds "
            f"GROUPS_MAX={GROUPS_MAX}"
        )
    from pyspark.sql.window import Window

    solved_parts: "list[DataFrame]" = []
    while True:
        solved_parts.append(
            bounds.filter(F.col("lo") == F.col("hi")).select(
                "g", "q", F.col("lo").alias("value")
            )
        )
        if st["active"] == 0:
            break
        a = bounds.filter(F.col("lo") < F.col("hi")).select(
            F.col("g").alias("g_b"),
            F.col("q").alias("q_b"),
            "lo",
            "hi",
            "k",
            # _wide: per-pair flag — does (hi - lo) overflow a BIGINT
            # bucket computation? Only then take the DECIMAL path; the
            # common case runs plain 64-bit integer arithmetic, which
            # codegen executes an order of magnitude cheaper per row than
            # interpreted BigDecimal ops. try_subtract returns NULL on
            # overflow, making the probe itself safe.
            F.expr(
                f"try_subtract(hi, lo) IS NULL"
                f" OR try_subtract(hi, lo) >= {1 << 62}"
            ).alias("_wide"),
            # ceil((hi - lo + 1) / BUCKETS); DECIMAL only when _wide
            F.expr(
                f"IF(try_subtract(hi, lo) IS NULL"
                f" OR try_subtract(hi, lo) >= {1 << 62},"
                f" CAST((CAST(hi AS DECIMAL(20,0)) - lo + {BUCKETS})"
                f" div {BUCKETS} AS BIGINT),"
                f" (hi - lo + {BUCKETS}) div {BUCKETS})"
            ).alias("sz"),
        )
        hist = (
            vals.join(
                F.broadcast(a),
                vals["g"].eqNullSafe(F.col("g_b"))
                & (vals["x"] >= F.col("lo"))
                & (vals["x"] <= F.col("hi")),
            )
            .groupBy(
                "g",
                F.col("q_b").alias("q"),
                "lo",
                "hi",
                "k",
                "sz",
                # x - lo cannot overflow when NOT _wide (both inside a
                # < 2^62-wide range); truncating div equals floor on the
                # non-negative offset either way
                F.expr(
                    "IF(_wide,"
                    " CAST((CAST(x AS DECIMAL(20,0)) - lo) div sz AS BIGINT),"
                    " (x - lo) div sz)"
                ).alias("b"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("g", "q").orderBy("b")
        sel = hist.withColumn("cum", F.sum("c").over(w)).filter(
            (F.col("cum") >= F.col("k"))
            & (F.col("cum") - F.col("c") < F.col("k"))
        )
        bounds = sel.select(
            "g",
            "q",
            F.expr(
                "CAST(lo + CAST(b AS DECIMAL(10,0)) * sz AS BIGINT)"
            ).alias("lo"),
            F.expr(
                "CAST(least(CAST(hi AS DECIMAL(24,0)), "
                "lo + (CAST(b AS DECIMAL(10,0)) + 1) * sz - 1) AS BIGINT)"
            ).alias("hi"),
            (F.col("k") - (F.col("cum") - F.col("c"))).alias("k"),
        )
        bounds, st = materialize(bounds, active=active)
    out = solved_parts[0]
    for part in solved_parts[1:]:
        out = out.unionByName(part)
    return out


def grouped_quantile(
    df: DataFrame,
    group: str,
    col: str,
    q: float,
) -> "DataFrame":
    """Exact per-group discrete q-quantile, ALL groups refined together —
    see :func:`_grouped_refine` for the distributed-refinement shape
    (histograms never collect to the driver; per-pass driver traffic is
    one count read off the pass's checkpoint job). GROUPS_MAX bounds the broadcast bounds table.

    Returns a DataFrame (group, value). NULL values excluded per group;
    groups with only NULLs are absent from the result."""
    if not 0 < q <= 1:
        raise ValueError("q must be in (0, 1]")
    return (
        _grouped_refine(df, group, col, [q])
        .select("g", "value")
        .withColumnRenamed("g", group)
    )


def grouped_quantiles(
    df: DataFrame,
    group: str,
    col: str,
    qs: "list[float]",
) -> "DataFrame":
    """Exact per-group quantiles for SEVERAL q at once — the same
    simultaneous refinement as :func:`grouped_quantile`, with state keyed
    by (group, q): every pass is still ONE histogram aggregation, the
    broadcast bounds table carries one row per still-active (group, q)
    pair, and the data-side join fans each row out only to its group's
    active quantile ranges. Pass count stays max-over-targets (2-3 for
    integer domains) regardless of how many quantiles are requested —
    asking for the median and then the quartiles separately would triple
    the scans this shares.

    Returns (group, q, value). q values must be distinct, each in (0, 1]."""
    if len(set(qs)) != len(qs) or not qs:
        raise ValueError("qs must be non-empty and distinct")
    for q in qs:
        if not 0 < q <= 1:
            raise ValueError("each q must be in (0, 1]")
    return _grouped_refine(df, group, col, qs).withColumnRenamed("g", group)
