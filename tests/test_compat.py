"""Reference-parity facade tests: the reference's own test strategy —
write a pandas frame, read it back, assert frame equality; plus column
subsets, range slices, multi-uid catalogs, metadata, and overlap rejection
(SURVEY.md §5: tests/test_corintick.py † round-trip suite)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from corintick_spark.compat import Corintick


def _ohlcv(seed: int, n: int = 200, start: str = "2024-03-01") -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    idx = pd.date_range(start, periods=n, freq="7min13s")
    close = 100 + np.cumsum(rng.normal(0, 1, n))
    return pd.DataFrame(
        {
            "Open": close + rng.normal(0, 0.1, n),
            "High": close + np.abs(rng.normal(0, 0.5, n)),
            "Low": close - np.abs(rng.normal(0, 0.5, n)),
            "Close": close,
            "Volume": rng.integers(1, 10_000, n),
            "note": [f"bar{i}" for i in range(n)],  # object-dtype column
        },
        index=idx,
    )


@pytest.fixture()
def store(spark, tmp_path):
    return Corintick(spark, str(tmp_path / "corintick"))


def test_roundtrip_frame_equality(store):
    df = _ohlcv(1)
    store.write("AAPL", df, source="test")
    back = store.read("AAPL")
    pd.testing.assert_frame_equal(back, df, check_freq=False)


def test_column_subset_and_range(store):
    df = _ohlcv(2)
    store.write("MSFT", df)
    back = store.read(
        "MSFT",
        start="2024-03-01 06:00:00",
        end="2024-03-01 12:00:00",
        columns=["Close", "Volume"],
    )
    expected = df.loc["2024-03-01 06:00:00":"2024-03-01 12:00:00", ["Close", "Volume"]]
    pd.testing.assert_frame_equal(back, expected, check_freq=False)


def test_multi_uid_catalog_and_metadata(store):
    store.write("A", _ohlcv(3), source="feedA")
    store.write("B", _ohlcv(4, start="2024-04-01"))
    uids = store.list_uids()
    assert list(uids["uid"]) == ["A", "B"]
    assert int(uids.loc[uids.uid == "A", "n_rows"].iloc[0]) == 200
    assert store.metadata()["source"] == "feedA"


def test_overlap_rejected_and_nonindex_rejected(store):
    df = _ohlcv(5)
    store.write("X", df)
    with pytest.raises(ValueError, match="overlaps"):
        store.write("X", df)  # same range again
    with pytest.raises(TypeError, match="DatetimeIndex"):
        store.write("Y", df.reset_index(drop=True))
    unsorted = df.iloc[::-1]
    with pytest.raises(ValueError, match="monotonic"):
        store.write("Z", unsorted)


def test_separate_collections(store):
    store.write("A", _ohlcv(6), collection="minute_bars")
    store.write("A", _ohlcv(7, start="2024-05-01"), collection="daily_bars")
    m = store.read("A", collection="minute_bars")
    d = store.read("A", collection="daily_bars")
    assert len(m) == len(d) == 200
    assert m.index[0].month == 3 and d.index[0].month == 5


def test_pre_1677_tick_reads_back_in_micros(store):
    """A tick outside pandas' nanosecond range comes back in microseconds
    (a nanosecond frame cannot hold it); a read without one stays in
    nanoseconds."""
    idx = pd.DatetimeIndex(
        np.array(["1500-03-01T12:00:00.000007", "2024-03-01T09:30:00"], dtype="datetime64[us]")
    )
    df = pd.DataFrame({"Close": [1.0, 2.0], "Volume": [10, 20]}, index=idx)
    store.write("OLD", df)
    back = store.read("OLD")
    assert back.index.dtype == "datetime64[us]"
    pd.testing.assert_frame_equal(back, df, check_freq=False)
    recent = store.read("OLD", start="2024-01-01")
    assert recent.index.dtype == "datetime64[ns]"
    pd.testing.assert_frame_equal(recent, df.iloc[1:].set_axis(idx[1:].as_unit("ns")))
