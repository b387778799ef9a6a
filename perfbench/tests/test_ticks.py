import pandas as pd
import pytest

from perfbench import ticks


def _gen(seed):
    return ticks.TickGen(seed, batches=3, rows_per_batch=2_000, reads_per_batch=5).batches()


def test_same_seed_same_rows_and_requests():
    a, b = _gen(11), _gen(11)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x.frame, y.frame)
        assert x.reads == y.reads


def test_other_seed_other_stream():
    a, b = _gen(11), _gen(12)
    assert not a[0].frame.equals(b[0].frame)
    assert a[0].reads != b[0].reads


def test_stream_shape():
    batches = _gen(3)
    truth = pd.concat([b.frame for b in batches], ignore_index=True)
    sizes = truth.uid.value_counts()
    assert len(batches) == 3 and all(len(b.frame) == 2_000 for b in batches)
    assert set(truth.uid) <= {f"U{i:02d}" for i in range(ticks.N_UIDS)}
    assert sizes.iloc[0] > 10 * sizes.median()  # skewed uid sizes
    for b in batches:
        lo = ticks.T0 + b.index * ticks.BATCH_SPAN
        assert b.frame.ts.min() >= lo and b.frame.ts.max() < lo + ticks.BATCH_SPAN
        for r in b.reads:
            assert ticks.T0 <= r.start <= r.end <= lo + ticks.BATCH_SPAN
            assert 1 <= len(r.columns) <= 3 and set(r.columns) <= set(ticks.VALUE_COLUMNS)


def _answer(truth, r):
    sel = truth[(truth.uid == r.uid) & (truth.ts >= r.start) & (truth.ts <= r.end)]
    return sel[["uid", "ts", *r.columns]].sample(frac=1.0, random_state=0).reset_index(drop=True)


def test_check_read_accepts_truth_and_catches_errors():
    batches = _gen(5)
    truth = batches[0].frame
    r = next(r for r in batches[0].reads if len(_answer(truth, r)) > 1)
    good = _answer(truth, r)
    assert ticks.check_read(truth, r, good) == []
    assert ticks.check_read(truth, r, good.iloc[1:]) != []
    bad = good.copy()
    bad.loc[0, "ts"] = bad.loc[0, "ts"] + pd.Timedelta(microseconds=1)
    assert ticks.check_read(truth, r, bad) != []
    assert ticks.check_read(truth, r, good[["uid", "ts"]]) != []


def test_check_scan_catches_a_lost_write():
    batches = _gen(5)
    truth = pd.concat([b.frame for b in batches], ignore_index=True)
    listing = truth.groupby("uid").ts.agg(n_rows="count", start="min", end="max").reset_index()
    assert ticks.check_scan(truth, listing) == []
    lost = pd.concat([batches[0].frame, batches[1].frame], ignore_index=True)
    short = lost.groupby("uid").ts.agg(n_rows="count", start="min", end="max").reset_index()
    assert ticks.check_scan(truth, short) != []


@pytest.mark.parametrize("col", ["price", "size", "side"])
def test_column_sums_detect_a_changed_value(col):
    batches = _gen(9)
    truth = batches[0].frame
    r = next(r for r in batches[0].reads if col in r.columns and len(_answer(truth, r)) > 0)
    bad = _answer(truth, r)
    v = bad.loc[0, col]
    bad.loc[0, col] = ("S" if v == "B" else "B") if col == "side" else v + 1
    assert ticks.check_read(truth, r, bad) != []
