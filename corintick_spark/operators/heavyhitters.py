"""Misra-Gries heavy hitters with exact verification — the mergeable
frequent-items sketch (Misra & Gries 1982; batched merge per Berinde et
al., "Space-optimal heavy hitters with strong error bounds", PODS 2009 —
public knowledge), deployed in the 2-pass shape that makes it EXACT:

1. **Candidate pass** — each input partition folds its rows into a
   capacity-k Misra-Gries summary (``mapInPandas``: per Arrow batch a
   vectorized ``value_counts`` merges into the summary dict; when the dict
   exceeds k entries, every count is decremented by the (k+1)-largest and
   non-positive entries drop — the standard batched MG step). Each
   partition emits ≤ k (item, weight) rows.

   Pigeonhole guarantee: any item with GLOBAL frequency > n/k has
   partition frequency > n_p/k in at least one partition (else summing the
   per-partition bounds contradicts the global count), and MG(k) never
   evicts an item whose partition frequency exceeds n_p/k — so the union
   of partition summaries is a SUPERSET of every global heavy hitter.

2. **Verification pass** — the candidate set (≤ k × partitions rows) is
   broadcast back against the stream for exact counts; ``count > n/k``
   filters to exactly the true heavy hitters. This is why the operator is
   oracle-checkable (plain ``HAVING count > n/k`` SQL) even though pass 1
   is a sketch.

At 100 TB: pass 1 is embarrassingly parallel with O(k) state per
partition and emits a tiny table; pass 2 is a broadcast semi-join +
partial-aggregated count — no full-cardinality wordcount shuffle ever
happens, which is the point versus the naive groupBy (whose shuffle
carries one row per DISTINCT item).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def _mg_partition(
    it: Iterator[pd.DataFrame], k: int, col: str
) -> Iterator[pd.DataFrame]:
    summary: dict[str, int] = {}
    for pdf in it:
        for item, c in pdf[col].value_counts().items():  # vectorized count
            summary[item] = summary.get(item, 0) + int(c)
        if len(summary) > k:
            # batched MG decrement: subtract the (k+1)-largest count
            cut = sorted(summary.values(), reverse=True)[k]
            summary = {i: c - cut for i, c in summary.items() if c > cut}
    yield pd.DataFrame(
        {"item": list(summary.keys()), "w": list(summary.values())}
    )


def heavy_hitters(
    df: DataFrame, col: str, k: int = 200, id_like: bool = False
) -> DataFrame:
    """Items of ``df[col]`` with frequency strictly greater than n/k, with
    their EXACT counts (column names: item, cnt). Two passes over the
    input; the only shuffles are the tiny candidate union and the
    partial-aggregated verification count. No driver-side scalar action:
    the total row count n rides along with the candidate pass (one
    NULL-item sentinel row per partition) and enters the final filter as
    a 1-row broadcast — the n/k threshold is evaluated inside the plan."""
    # persisted: the item stream is read twice (candidate fold + the
    # verification count) — without this the upstream tokenize/explode
    # re-executes per pass. At 100 TB swap the persist for a durable
    # staging table.
    src = (
        df.select(F.col(col).cast("string").alias("item"))
        .filter(F.col("item").isNotNull())
        .persist()
    )

    def fold(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_part = 0

        def counting(inner: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            nonlocal n_part
            for pdf in inner:
                n_part += len(pdf)
                yield pdf

        yield from _mg_partition(counting(it), k, "item")
        # sentinel: item=NULL carries this partition's total row count
        # (src items are non-null by construction, so NULL is unambiguous)
        yield pd.DataFrame({"item": [None], "w": [n_part]})

    folded = src.mapInPandas(fold, schema="item string, w long").persist()
    candidates = (
        folded.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("w").alias("w"))
        .select("item")
    )
    total = folded.filter(F.col("item").isNull()).agg(
        F.sum("w").alias("_n")
    )
    out = (
        src.join(F.broadcast(candidates), "item")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))  # 1-row aggregate — safe broadcast
        .filter(F.col("cnt") > F.col("_n") / F.lit(k))
        .select("item", "cnt")
    )
    # eagerly materialize so src can be released before returning (the
    # result is <= |candidates| rows)
    out = out.localCheckpoint(eager=True)
    src.unpersist()
    folded.unpersist()
    return out
