"""Deterministic hash-capped sampling for model-fit stages.

ANN codebook / centroid fitting (operators/pq.py::pq_fit,
operators/clustering.py::kmeans_fit) needs a REPRESENTATIVE sample, not
the corpus: k-means quality saturates once the sample is a few hundred
times k, while the fit loop's assign/update shuffles cost one full pass
over whatever frame they're given, per iteration. At 100 TB that is the
difference between a bounded ~100k-vector fit (seconds, constant in
corpus size) and `iters` full-corpus shuffles (the FAISS `train()` vs
`add()` split — train on a sample, encode everything).

``hash_sample_cap`` is the one primitive: filter to an expected ``cap``
rows by a deterministic xxhash64 threshold on the id column. Properties
that matter here:

- **Deterministic**: same ids -> same sample, across sessions and
  retries (no RNG, no partition-order dependence — unlike
  ``df.sample``, whose Bernoulli draw depends on partition split).
- **One cheap aggregate**: the only driver-side cost is a count()
  (column-pruned, no payload), paid once at fit time. It comes back
  with the sample, and the fit sizes its route from it: a small sample
  is read to the driver whole, a large one stays in Spark.
- **Plan-friendly**: the filter is a scalar predicate on the scan — no
  shuffle, no sort, no per-partition top-N funneling into one task
  (the failure mode of ``orderBy(hash).limit(cap)`` at cluster scale).
- **No-op under the cap**: corpora at or below ``cap`` fit on every
  row, so small-SF results (and the recall floors pinned by the
  rows-only driver tier) are bit-identical to the unsampled fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

# Threshold granularity for the hash filter. xxhash64 is uniform over
# int64; pmod folds it to [0, _DENOM) and the filter keeps values below
# cap/n * _DENOM, so the kept fraction is exact to 1/_DENOM. Wide (2^32)
# so the integer threshold stays well above 1 even at extreme n/cap
# ratios — at the default 100k cap the fraction only floors to zero past
# n ~ 4e14 rows, and the max(1, ...) guard below keeps the sample
# non-empty even there (slightly over-cap beats an empty fit set).
_DENOM = 1 << 32


def _threshold(cap: int, n: int) -> int:
    """Integer hash threshold keeping an expected ``cap`` of ``n`` rows.
    Never 0 (ADVICE r7): at n > cap * _DENOM the exact fraction floors to
    zero and the fit stage would train on an EMPTY sample — the guard
    trades a slightly-over-cap sample for a non-empty one."""
    return max(1, int(_DENOM * cap / n))


def hash_sample_cap(df: DataFrame, id_col: str, cap: int) -> "tuple[DataFrame, int]":
    """Return (``df`` filtered to an expected ``cap`` rows, deterministically
    by ``xxhash64(id_col)``; the rows that sample is expected to hold).
    ``df`` comes back unchanged, with its count, when it already has at
    most ``cap`` rows (or ``cap`` is falsy), so sub-cap corpora are
    unaffected; otherwise the expected size is ``cap``. The sample size is
    binomial around ``cap`` (exact-to-1e-6 fraction), which is what a fit
    stage wants — a size guarantee would cost a global sort. ``df`` is
    counted once, also when ``cap`` is falsy, so a fit stage can size its
    route from the result without a second count."""
    n = df.count()  # one column-pruned aggregate, paid once at fit time
    if not cap or n <= cap:
        return df, n
    thresh = _threshold(cap, n)
    return df.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(_DENOM)) < F.lit(thresh)
    ), cap
