"""The event-log fold, on a log captured from a traced session at sf0.001.

The fixture came from one session started with ``tracing.event_log_conf``
and a Tracer (run id ``fixture``) bound to it, running three spans under a
``run`` span: ``scan`` (a noop write of sf0.001 documents.parquet, 500
rows), ``udf`` (the same scan through a pass-through ``mapInPandas``) and
``count`` (``spark.range(10).count()``).
"""

import gzip
import os
import shutil

import pytest

from perfbench import tracing

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "eventlog_sf0.001.json.gz")
SCAN, UDF, COUNT = "fixture/1", "fixture/2", "fixture/3"


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    path = tmp_path_factory.mktemp("log") / "app"
    with gzip.open(FIXTURE, "rb") as fi, open(path, "wb") as fo:
        shutil.copyfileobj(fi, fo)
    return tracing.fold_event_log(str(path))


def test_every_job_lands_on_its_span(folded):
    assert set(folded) == {SCAN, UDF, COUNT}
    for gid in (SCAN, UDF, COUNT):
        g = folded[gid]
        assert g["jobs"] >= 1 and g["stages"] >= g["jobs"] and g["tasks"] >= g["stages"]


def test_scan_counts_input(folded):
    scan = folded[SCAN]
    assert scan["input_records"] == 500
    assert scan["input_bytes"] > 0
    assert scan["python_eval_s"] == 0 and scan["python_rows"] == 0


def test_python_udf_metrics_come_from_python_nodes_only(folded):
    udf = folded[UDF]
    assert udf["python_rows"] == 500
    assert udf["python_eval_s"] > 0
    assert folded[COUNT]["python_rows"] == 0


def test_task_times_are_in_seconds(folded):
    for g in folded.values():
        assert 0 < g["executor_run_s"] < 60
        assert 0 < g["executor_cpu_s"] < 60
        assert 0 <= g["gc_s"] <= g["executor_run_s"]
    assert folded[COUNT]["shuffle_write_bytes"] > 0


def test_sum_groups_adds_spans(folded):
    both = tracing.sum_groups(folded, [SCAN, UDF, "no-such-span"])
    assert both["jobs"] == folded[SCAN]["jobs"] + folded[UDF]["jobs"]
    assert both["input_records"] == 1000


def test_tracer_spans_nest_and_self_time():
    t = tracing.Tracer("t", enabled=True)
    with t.span("run"):
        with t.span("a"):
            pass
        with t.span("b"):
            with t.span("c"):
                pass
    run, a, b, c = t.spans
    assert (a.parent, b.parent, c.parent) == (run.id, run.id, b.id)
    assert t.subtree(run.id) == [run.id, a.id, b.id, c.id]
    assert t.subtree(run.id, skip="b") == [run.id, a.id]
    assert t.self_seconds(run) == pytest.approx(run.seconds - a.seconds - b.seconds)


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer("t", enabled=False)
    with t.span("run") as s:
        assert s is None
    assert t.spans == []
