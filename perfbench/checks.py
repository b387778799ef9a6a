"""Output checks for the query workloads.

An oracle-paired query must reproduce, at the repository's DuckDB-oracle
bar (row count, column names, column type class, and the exact multiset of
canonical rows), the result DuckDB gave for its SQL on the same inputs. The
expected results are stored as digests in ``expected_sf0.01.json``, written
by ``record_expected.py``. A rows-only query must have ``inv_ok`` true in
every row and the recorded row count.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
from collections import Counter

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected_sf0.01.json")


def _cell(v) -> str:
    """Canonical text of one cell: exact float repr, timestamps as epoch ns."""
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "<nan>" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return str(v.value)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _type_class(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        return "timestamp"
    if pd.api.types.is_bool_dtype(s.dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(s.dtype):
        return "int"
    if pd.api.types.is_float_dtype(s.dtype):
        return "float"
    nonnull = s.dropna()
    v = nonnull.iloc[0] if len(nonnull) else None
    for cls, name in (
        ((list, np.ndarray), "list"),
        (pd.Timestamp, "timestamp"),
        (bool, "bool"),
        ((int, np.integer), "int"),
        ((float, np.floating), "float"),
        (bytes, "binary"),
        (datetime.date, "date"),
    ):
        if isinstance(v, cls):
            return name
    return "str"


def fingerprint(pdf: pd.DataFrame) -> dict:
    """Order-insensitive summary of a result frame at the oracle bar."""
    cols = sorted(pdf.columns)
    rows = Counter(
        "|".join(_cell(v) for v in tup) for tup in zip(*(pdf[c] for c in cols))
    ) if cols else Counter()
    h = hashlib.sha256()
    for line, n in sorted(rows.items()):
        h.update(f"{line}\t{n}\n".encode())
    return {
        "rows": len(pdf),
        "columns": cols,
        "types": {c: _type_class(pdf[c]) for c in cols},
        "digest": h.hexdigest(),
    }


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def check(name: str, pdf: pd.DataFrame, expected: dict) -> list[str]:
    """Mismatch descriptions for one query result (empty means correct)."""
    want = expected.get(name)
    if want is None:
        return [f"no expected result recorded for {name}"]
    if want["kind"] == "rows_only":
        problems = []
        if "inv_ok" not in pdf.columns:
            problems.append("missing inv_ok")
        elif not pdf["inv_ok"].fillna(False).astype(bool).all():
            problems.append(f"{int((~pdf['inv_ok'].fillna(False).astype(bool)).sum())} rows fail inv_ok")
        if len(pdf) != want["rows"]:
            problems.append(f"rows {len(pdf)} != {want['rows']}")
        return problems
    got = fingerprint(pdf)
    return [
        f"{k}: got {got[k]!r}, expected {want[k]!r}"
        for k in ("rows", "columns", "types", "digest")
        if got[k] != want[k]
    ]
