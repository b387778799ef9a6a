"""Exact distributed selection (operators/quantile.py): k-th smallest by
iterative bucket histograms vs an in-memory sort."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from corintick_spark.operators.quantile import exact_quantile, kth_smallest


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x bigint")


def test_matches_sorted_reference(spark):
    vals = [((i * 2654435761) % 100003) - 50000 for i in range(5000)]
    vals += vals[:500]  # duplicates
    df = _df(spark, vals)
    ref = sorted(vals)
    for k in (1, 2, 1000, len(vals) // 2, len(vals) - 1, len(vals)):
        assert kth_smallest(df, "x", k) == ref[k - 1]


def test_wide_domain_multiple_passes(spark):
    # domain ~2^40 forces >1 histogram pass (bucket size > 1 first round)
    vals = [(i * 123456789123) % (1 << 40) for i in range(2000)]
    df = _df(spark, vals)
    ref = sorted(vals)
    for k in (1, 777, 2000):
        assert kth_smallest(df, "x", k) == ref[k - 1]


def test_nulls_excluded_and_errors(spark):
    df = spark.createDataFrame([(1,), (None,), (3,)], "x bigint")
    assert kth_smallest(df, "x", 2) == 3
    with pytest.raises(ValueError):
        kth_smallest(df, "x", 3)  # only 2 non-null rows
    with pytest.raises(ValueError):
        kth_smallest(df, "x", 0)
    with pytest.raises(ValueError):
        exact_quantile(df.filter("x IS NULL"), "x", 0.5)
    with pytest.raises(ValueError):
        exact_quantile(df, "x", 0.0)


def test_quantile_disc_semantics(spark):
    vals = list(range(1, 11))  # 1..10
    df = _df(spark, vals)
    assert exact_quantile(df, "x", 0.5) == 5   # ceil(0.5*10) = 5
    assert exact_quantile(df, "x", 0.25) == 3  # ceil(2.5) = 3
    assert exact_quantile(df, "x", 1.0) == 10
    assert exact_quantile(df, "x", 0.1) == 1


def test_grouped_quantile_matches_reference(spark):
    import collections

    from corintick_spark.operators.quantile import grouped_quantile

    rows = [
        ((i * 7) % 5, ((i * 2654435761) % 100003) - 50000)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "g int, x bigint")
    by_g = collections.defaultdict(list)
    for g, x in rows:
        by_g[g].append(x)
    for q in (0.5, 0.25, 0.9):
        got = {
            r.g: r.value
            for r in grouped_quantile(df, "g", "x", q).collect()
        }
        # reference rank: ceil(q*n), fp-drift-free
        want = {
            g: sorted(v)[
                max(1, -(-(int(q * 1_000_000 * len(v))) // 1_000_000)) - 1
            ]
            for g, v in by_g.items()
        }
        assert got == want, f"q={q}"


def test_grouped_quantile_string_groups_and_null_only_group(spark):
    from corintick_spark.operators.quantile import grouped_quantile

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 10), ("c", None)],
        "g string, x bigint",
    )
    got = {r.g: r.value for r in grouped_quantile(df, "g", "x", 0.5).collect()}
    assert got == {"a": 2, "b": 10}  # null-only group 'c' absent


def test_grouped_quantiles_multi_matches_singles(spark):
    from corintick_spark.operators.quantile import (
        grouped_quantile,
        grouped_quantiles,
    )

    rows = [((i * 3) % 4, ((i * 48271) % 9973) - 5000) for i in range(3000)]
    df = spark.createDataFrame(rows, "g int, x bigint")
    multi = {
        (r.g, r.q): r.value
        for r in grouped_quantiles(df, "g", "x", [0.25, 0.5, 0.75]).collect()
    }
    for q in (0.25, 0.5, 0.75):
        single = {
            r.g: r.value for r in grouped_quantile(df, "g", "x", q).collect()
        }
        assert {g: multi[(g, q)] for g in single} == single, f"q={q}"


def test_grouped_quantiles_validation(spark):
    from corintick_spark.operators.quantile import grouped_quantiles

    df = spark.createDataFrame([(1, 1)], "g int, x bigint")
    import pytest as _pt

    with _pt.raises(ValueError):
        grouped_quantiles(df, "g", "x", [])
    with _pt.raises(ValueError):
        grouped_quantiles(df, "g", "x", [0.5, 0.5])
    with _pt.raises(ValueError):
        grouped_quantiles(df, "g", "x", [0.0])


def test_grouped_refinement_is_distributed_no_big_collects(spark, monkeypatch):
    """10k groups over a 64-bit-wide domain (VERDICT r05 item 2): the
    refinement must never collect histogram rows to the driver — the old
    driver-state loop pulled up to groups x 65,536 rows per pass. The new
    in-plan cumulative-sum refinement does ZERO Python-level collects
    during the operator call; correctness is pinned against a pandas
    reference on the same data."""
    import collections

    from corintick_spark.operators.quantile import grouped_quantile

    n_groups = 10_000
    df = (
        spark.range(0, n_groups * 5)
        .selectExpr(
            f"id % {n_groups} AS g",
            # xxhash64 spreads across the FULL int64 range (64-bit-wide
            # domain -> 4 refinement passes; DECIMAL bucket math must not
            # overflow under ANSI)
            "xxhash64(id) AS x",
        )
        .cache()
    )
    rows = df.collect()  # reference data, gathered BEFORE the spy
    by_g = collections.defaultdict(list)
    for r in rows:
        by_g[r.g].append(r.x)
    want = {
        g: sorted(v)[max(1, -(-(len(v) * 500_000) // 1_000_000)) - 1]
        for g, v in by_g.items()
    }

    sizes = []
    # the class of the session's frames: on Spark 4.1 classic it overrides
    # pyspark.sql.DataFrame.collect, so a spy on the base class never fires
    cls = type(df)
    orig = cls.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(cls, "collect", spy)
    result = grouped_quantile(df, "g", "x", 0.5)
    inner = list(sizes)
    monkeypatch.undo()
    assert inner == [], f"driver-side collects during refinement: {inner}"
    got = {r.g: r.value for r in result.collect()}
    df.unpersist()
    assert got == want


def test_grouped_refinement_reads_counts_off_checkpoints(spark, monkeypatch):
    """The pair count (GROUPS_MAX guard) and every pass's still-active
    count ride the bounds checkpoint jobs: the refinement over a
    multi-pass domain runs no count, first, collect or isEmpty."""
    from corintick_spark.operators.quantile import grouped_quantiles
    from tests.spy import driver_actions

    vals = [(g, ((i * 2654435761) % 1_000_003) * (g + 1)) for g in range(3) for i in range(200)]
    df = spark.createDataFrame(vals, "g long, x bigint")
    with driver_actions(spark, monkeypatch) as calls:
        out = grouped_quantiles(df, "g", "x", [0.25, 0.5])
    assert calls == []
    got = {(r.g, r.q): r.value for r in out.collect()}
    for g in range(3):
        xs = sorted(x for gg, x in vals if gg == g)
        for q in (0.25, 0.5):
            assert got[(g, q)] == xs[-(-int(q * 1_000_000 * len(xs)) // 1_000_000) - 1]
