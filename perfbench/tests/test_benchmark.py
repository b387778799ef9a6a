"""BENCHMARK.json against the benchmark's code, a smoke run of every
workload with its output checks, and a run outside a checkout."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_what_the_runs_report():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == dict(workloads.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == dict(workloads.per_layer_names())
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_expected_results_cover_every_query():
    assert set(checks.load_expected()) == set(workloads.ALL_QUERIES)


def _run(workload, cwd, seconds="0"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", seconds, "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_run_reports_checked_metrics(workload):
    """One timed unit of the workload (a pass, or a tick-store batch after
    its warm-up batch), every output checked; the last stdout line is the
    result."""
    proc = _run(workload, ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {n for n, _ in workloads.END_TO_END}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_output_check_rejects_a_wrong_result():
    """The oracle fingerprint catches one changed cell and a lost row."""
    import duckdb

    from corintick_spark.catalog import TABLE_NAMES
    from corintick_spark.registry import load_all

    sql = load_all()["graph_bfs"].sql
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{checks.DATA_DIR}/{t}.parquet')")
    good = con.execute(sql).fetch_arrow_table().to_pandas()
    expected = checks.load_expected()
    assert checks.check("graph_bfs", good, expected) == []
    assert checks.check("graph_bfs", good.iloc[1:], expected) != []
    bad = good.copy()
    bad.loc[0, "hops"] = bad.loc[0, "hops"] + 1
    assert checks.check("graph_bfs", bad, expected) != []


def test_exits_nonzero_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("tick_store", tmp_path)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
