"""The workloads, their set-up, and the metrics they report.

Each workload is one closed-loop client: every call waits for the previous
one. ``tick_store`` drives ``storage.TickStore`` with a seeded tick stream;
``iterative_llm`` runs registry queries over the sf0.01 tables in
``perfbench/data`` in a seed-permuted order each pass, each call being the
query function (build) plus a ``noop`` write of its frame (exec).
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import checks, stats, ticks, tracing

# Output the benchmark keeps in the checkout across runs: untraced pass
# times (the base of the tracing overhead) and traced-run tables.
OUT_DIR = os.path.join(os.path.dirname(checks.HERE), ".perfbench_work")

# Eager localCheckpoint loops inside the query call: driver round trips
# (jobs per query) dominate.
ITERATIVE = ("graph_pagerank", "dedup_survivors", "graph_bfs")
# Python/Arrow UDF evaluation (multimodal decoders, perceptual hashes, PQ):
# execution dominates, with few jobs per query.
LLM_PIPELINE = (
    "dedup_simhash_multi", "similarity_pq", "text_perplexity",
    "multimodal_decode_px", "multimodal_decode_gif_anim", "dedup_image_phash",
    "dedup_image_dhash", "dedup_audio_fp",
)
# Both query groups share one pass: with the cold set-up every run pays, a
# workload per group would not fit the benchmark's time budget (README).
WORKLOADS: dict[str, tuple[str, ...]] = {
    "tick_store": (),
    "iterative_llm": ITERATIVE + LLM_PIPELINE,
}
ALL_QUERIES = ITERATIVE + LLM_PIPELINE

SETUPS = 3
# A tick-store run writes into one store: the first TICK_WARM batches, each
# with its burst of point-range reads and one list_uids scan, warm the
# storage path (JIT, first listings) and are checked but not timed; timed
# batches follow until the run's seconds are up (at most TICK_BATCHES - TICK_WARM).
TICK_WARM = 1
TICK_BATCHES = 24
TICK_ROWS = 20_000
TICK_READS = 4
FAILED_OP_S = 1e9  # a failed call misses any latency limit

END_TO_END = (("setup_s", "s"), ("pass_s", "s"))


def per_layer_names() -> list[tuple[str, str]]:
    names = [
        ("session.start_s", "s"),
        ("registry.load_s", "s"),
        ("warmup_s", "s"),
        ("session.cold_setup_s", "s"),
        ("op.samples", "count"),
        ("op.p50_s", "s"),
        ("op.tail_pct", "pct"),
        ("op.tail_s", "s"),
        ("mem.peak_rss_mb", "MB"),
        ("storage.write_s", "s"),
        ("storage.write_rows_per_s", "rows/s"),
        ("storage.write_files", "count"),
        ("storage.files_total", "count"),
        ("storage.bytes_total", "B"),
        ("storage.space_amp", "ratio"),
        ("storage.read_build_s", "s"),
        ("storage.read_collect_s", "s"),
        ("storage.read_jobs", "count"),
        ("storage.read_useful_frac", "ratio"),
        ("storage.scan_s", "s"),
        ("storage.scan_jobs", "count"),
    ]
    for q in ALL_QUERIES:
        names += [(f"{q}.build_s", "s"), (f"{q}.exec_s", "s"), (f"{q}.jobs", "count")]
    names += [
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.input_bytes", "B"),
        ("spark.shuffle_write_bytes", "B"),
        ("spark.spill_bytes", "B"),
        ("spark.slot_busy_frac", "ratio"),
        ("udf.python_eval_s", "s"),
        ("udf.python_rows", "count"),
        ("ckpt.live_rdds", "count"),
        ("ckpt.live_mb", "MB"),
        ("trace.overhead_frac", "ratio"),
    ]
    return names


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setups: list[dict] = field(default_factory=list)
    # Timed latencies by call (a query, or write / read / scan), and how many
    # calls of each make up one unit (a pass, or a tick-store batch).
    calls: dict[str, list[float]] = field(default_factory=dict)
    per_unit: dict[str, int] = field(default_factory=dict)
    units: int = 0  # timed units: batches, or passes
    timed_s: float = 0.0  # wall of every timed call
    ops: list[float] = field(default_factory=list)  # per-call latencies for op.*
    rss_mb: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        print(f"FAILED {what}: {problems}", file=sys.stderr)

    def timed(self, call: str, seconds: float, op: bool = True) -> None:
        self.calls.setdefault(call, []).append(seconds)
        if op:
            self.ops.append(seconds)
        if seconds < FAILED_OP_S:
            self.timed_s += seconds

    def pass_s(self) -> float:
        """One unit's time, as the sum of the median of each of its calls
        over the run: every sample of a call counts, and a slow moment of
        the host moves a median, not the sum."""
        return sum(n * stats.median(self.calls[c]) for c, n in self.per_unit.items())

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": stats.median([s["total"] for s in self.setups]),
            "pass_s": self.pass_s(),
        }

    def op_latency(self) -> dict[str, float]:
        """Per-call latency: the median, and the highest percentile with
        enough samples beyond it (the median again when none has)."""
        tail = stats.tail_percentile(len(self.ops)) or 50.0
        return {
            "op.samples": len(self.ops),
            "op.p50_s": stats.percentile(self.ops, 50),
            "op.tail_pct": tail,
            "op.tail_s": stats.percentile(self.ops, tail),
            "mem.peak_rss_mb": max(self.rss_mb),
        }

    def report(self, traced: bool) -> dict:
        units = dict(per_layer_names() if traced else END_TO_END)
        values = self.layer if traced else self.end_to_end()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
            },
        }


def summary_line(workload: str, seed: int, r: Result) -> str:
    e, o = r.end_to_end(), r.op_latency()
    supported = "" if stats.tail_percentile(len(r.ops)) else ", below the sample-count rule"
    least = min(len(r.calls[c]) for c in r.per_unit)
    return (
        f"{workload} seed={seed}: setup_s {e['setup_s']:.3f} s (n={len(r.setups)}), "
        f"pass_s {e['pass_s']:.3f} s (sum of {len(r.per_unit)} call medians, "
        f"n>={least} each, {r.units} units timed: "
        + " + ".join(f"{n}x{c} {stats.median(r.calls[c]):.3f}" for c, n in r.per_unit.items())
        + "); "
        f"op p50 {o['op.p50_s']:.3f} s, p{o['op.tail_pct']:g} {o['op.tail_s']:.3f} s "
        f"(n={len(r.ops)}{supported}); peak_rss_mb {o['mem.peak_rss_mb']:.1f} MB; "
        f"fail_frac {r.failed}/{r.attempted} = {r.failed / max(r.attempted, 1):.4f}"
    )


# -- process and session probes ----------------------------------------------

def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class RssProbe:
    """RSS of the driver Python process plus the JVM, sampled on demand."""

    def __init__(self, out: list[float]):
        self.out = out
        self.pids = [os.getpid()]

    def bind(self, spark) -> None:
        self.pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]

    def sample(self) -> None:
        self.out.append(sum(_rss_mb(p) for p in self.pids))


def live_checkpoints(spark) -> tuple[int, float]:
    """Persisted / localCheckpointed RDDs still registered, and their MB."""
    jsc = spark.sparkContext._jsc
    n = int(jsc.getPersistentRDDs().size())
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    return n, mb


def _stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM has exited, so the run
    leaves no process behind (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _purge_program_modules() -> None:
    """Drop the program's modules so the next set-up times the registry
    import itself, not a cached module."""
    for name in [m for m in sys.modules if m == "corintick_spark" or m.startswith("corintick_spark.")]:
        del sys.modules[name]


def setup(workload: str, extra_conf: dict, rss: RssProbe):
    """Session start, registry import and warm-up, each timed. Returns the
    session, the registry and the timings."""
    _purge_program_modules()
    t0 = time.perf_counter()
    from corintick_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from corintick_spark.registry import load_all

    registry = load_all()
    t2 = time.perf_counter()
    rss.bind(spark)
    # The session's first job (task launch, first codegen). Per-query JIT
    # and codegen stay in the measured pass: every fresh session pays them.
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    rss.sample()
    return spark, registry, {
        "start_s": t1 - t0,
        "registry_s": t2 - t1,
        "warmup_s": t3 - t2,
        "total": t3 - t0,
    }


# -- the measured loop ---------------------------------------------------------

def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> Result:
    result = Result()
    rss = RssProbe(result.rss_mb)
    log_dir = os.path.join(work, "eventlog")
    extra_conf = {}
    if traced:
        os.makedirs(log_dir, exist_ok=True)
        extra_conf = tracing.event_log_conf(log_dir)
    for k in range(SETUPS):
        spark, registry, timing = setup(workload, extra_conf, rss)
        result.setups.append(timing)
        print(f"setup {k}: " + ", ".join(f"{n} {v:.3f} s" for n, v in timing.items()), file=sys.stderr)
        if k < SETUPS - 1:
            spark.stop()
    tracer = tracing.Tracer(run_id=f"{workload}-{seed}", enabled=traced)
    tracer.bind(spark)
    with tracer.span("run", workload=workload, seed=seed):
        if workload == "tick_store":
            extra = _run_tick_store(spark, seed, seconds, work, result, rss, tracer)
        else:
            extra = _run_queries(spark, registry, WORKLOADS[workload], seed, seconds, result, rss, tracer)
    cores = spark.sparkContext.defaultParallelism
    app_id = spark.sparkContext.applicationId
    spark.stop()
    _stop_jvm()
    if traced:
        folded = tracing.fold_event_log(tracing.find_event_log(log_dir, app_id))
        result.layer = _per_layer(workload, result, tracer, folded, extra, cores)
        _write_trace(workload, seed, tracer, folded, result)
    else:
        _record_untraced(workload, result)
    return result


def _run_queries(spark, registry, names, seed, seconds, result, rss, tracer) -> dict:
    """Passes over the queries, each in its own seed-permuted order, until
    ``seconds`` have passed (at least one). The first pass is cold on
    purpose: every session the driver contract starts pays per-query JIT,
    codegen and Python-worker start-up, and a pass spans more of the run
    than a warm one would, so a slow spell of the host weighs less. Each
    query's output is checked after its first timed call."""
    expected = checks.load_expected()
    result.per_unit = dict.fromkeys(names, 1)
    live: list[tuple[str, int, float]] = []
    t_start = time.perf_counter()
    p = 0
    while p == 0 or time.perf_counter() - t_start < seconds:
        order = [names[i] for i in np.random.default_rng([seed, p]).permutation(len(names))]
        wall = 0.0
        with tracer.span("pass", index=p):
            for name in order:
                result.attempted += 1
                with tracer.span(name, query=name, pass_index=p):
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("build"):
                            df = registry[name].spark(spark, checks.DATA_DIR)
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                        dt = time.perf_counter() - t0
                        result.timed(name, dt)
                    except Exception as e:  # noqa: BLE001 - counted, run goes on
                        df, dt = None, time.perf_counter() - t0
                        result.timed(name, FAILED_OP_S)
                        result.fail(name, [f"{type(e).__name__}: {e}"])
                    wall += dt
                    rss.sample()
                    print(f"  {name}: {dt:.3f} s", file=sys.stderr)
                    if df is not None and p == 0:
                        with tracer.span("check"):
                            _check_query(name, df, expected, result)
                    df = None
                if tracer.enabled:
                    live.append((name, *live_checkpoints(spark)))
        result.units += 1
        print(f"pass {p}: {wall:.3f} s", file=sys.stderr)
        p += 1
    return {"live": live}


def _check_query(name, df, expected, result) -> None:
    """Collect the frame the timed call built and compare it with the
    recorded expectation; runs once per query per run, outside the timed
    region."""
    try:
        problems = checks.check(name, df.toPandas(), expected)
    except Exception as e:  # noqa: BLE001 - a failed check is a failed op
        problems = [f"check raised {type(e).__name__}: {e}"]
    if problems:
        result.fail(f"{name} output", problems)


def _store_files(root: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            nbytes += os.path.getsize(os.path.join(d, f))
            files += f.endswith(".parquet")
    return files, nbytes


def _run_tick_store(spark, seed, seconds, work, result, rss, tracer) -> dict:
    """Batches written into one store, each followed by its point-range
    reads and a list_uids scan. The first TICK_WARM batches warm the storage
    path (JIT, first listings) and are checked but not timed: a tick store
    serves a long-lived session, whose steady state the timed batches
    measure."""
    from corintick_spark.storage import TickStore

    result.per_unit = {"write": 1, "read": TICK_READS, "scan": 1}
    batches = ticks.TickGen(seed, TICK_BATCHES, TICK_ROWS, TICK_READS).batches()
    timed = {"writes": [], "reads": [], "scans": [], "files_added": [], "returned": []}
    root = os.path.join(work, "store")
    store = TickStore(spark, root)
    truth = batches[0].frame.iloc[:0]
    raw_bytes = 0
    t_start = None
    for batch in batches:
        warm = batch.index < TICK_WARM
        if not warm:
            if t_start is None:
                t_start = time.perf_counter()
            elif time.perf_counter() - t_start >= seconds:
                break
        batch_stats = {k: [] for k in timed}
        calls: list[tuple[str, float]] = []
        wall = 0.0
        with tracer.span("warmup" if warm else "batch", index=batch.index):
            sdf = spark.createDataFrame(batch.frame, ticks.SCHEMA)
            before, _ = _store_files(root)
            result.attempted += 1
            with tracer.span("write", rows=len(batch.frame)) as s:
                t0 = time.perf_counter()
                try:
                    store.write(sdf)
                    ok = True
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    ok = False
                    result.fail(f"write {batch.index}", [f"{type(e).__name__}: {e}"])
                dt = time.perf_counter() - t0
            wall += dt
            calls.append(("write", dt if ok else FAILED_OP_S))
            rss.sample()
            batch_stats["writes"].append((len(batch.frame), dt, s))
            if ok:
                truth = pd.concat([truth, batch.frame], ignore_index=True)
                raw_bytes += len(batch.frame) * ticks.RAW_ROW_BYTES
            batch_stats["files_added"].append(_store_files(root)[0] - before)
            for r in batch.reads:
                result.attempted += 1
                with tracer.span("read", uid=r.uid) as s:
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("read.build"):
                            df = store.read(**ticks.read_args(r))
                        with tracer.span("read.collect"):
                            got = df.toPandas()
                        dt = time.perf_counter() - t0
                        calls.append(("read", dt))
                    except Exception as e:  # noqa: BLE001
                        got, dt = None, time.perf_counter() - t0
                        calls.append(("read", FAILED_OP_S))
                        result.fail(f"read {r}", [f"{type(e).__name__}: {e}"])
                wall += dt
                rss.sample()
                batch_stats["reads"].append(s)
                if got is not None:
                    batch_stats["returned"].append(len(got))
                    problems = ticks.check_read(truth, r, got)
                    if problems:
                        result.fail(f"read {r}", problems)
            result.attempted += 1
            with tracer.span("scan") as s:
                t0 = time.perf_counter()
                try:
                    listed = store.list_uids().toPandas()
                except Exception as e:  # noqa: BLE001
                    listed = None
                    result.fail(f"scan {batch.index}", [f"{type(e).__name__}: {e}"])
                dt = time.perf_counter() - t0
            wall += dt
            calls.append(("scan", dt if listed is not None else FAILED_OP_S))
            rss.sample()
            batch_stats["scans"].append((dt, s))
            if listed is not None:
                problems = ticks.check_scan(truth, listed)
                if problems:
                    result.fail(f"scan {batch.index}", problems)
        print(f"batch {batch.index}{' (warm-up)' if warm else ''}: {wall:.3f} s", file=sys.stderr)
        if not warm:
            result.units += 1
            for call, dt in calls:
                result.timed(call, dt, op=call == "read")
            for k, v in batch_stats.items():
                timed[k].extend(v)
    files, nbytes = _store_files(root)
    return {
        **timed,
        "files_total": files,
        "bytes_total": nbytes,
        "space_amp": nbytes / raw_bytes if raw_bytes else 0.0,
    }


# -- traced-run fold -----------------------------------------------------------

def _untraced_path(workload: str) -> str:
    return os.path.join(OUT_DIR, f"untraced-{workload}.jsonl")


def _record_untraced(workload: str, result: Result) -> None:
    """Keep this run's pass_s so a later traced run in the same checkout can
    report its tracing overhead against untraced runs."""
    with open(_untraced_path(workload), "a") as fh:
        fh.write(json.dumps({"pass_s": result.pass_s()}) + "\n")


def _tracing_overhead(workload: str, traced_pass_s: float) -> float:
    try:
        with open(_untraced_path(workload)) as fh:
            base = [json.loads(line)["pass_s"] for line in fh if line.strip()]
    except FileNotFoundError:
        base = []
    if not base:
        print("no untraced run of this workload recorded in this checkout: "
              "trace.overhead_frac reported as 0", file=sys.stderr)
        return 0.0
    return traced_pass_s / stats.median(base) - 1.0


def _group_totals(tracer, folded, span_ids) -> dict[str, float]:
    """Event-log totals of the spans' subtrees, leaving out the untimed
    output checks."""
    ids = [i for sid in span_ids for i in tracer.subtree(sid, skip="check")]
    return tracing.sum_groups(folded, ids)


def _per_layer(workload, result, tracer, folded, extra, cores) -> dict[str, float]:
    layer = dict.fromkeys((n for n, _ in per_layer_names()), 0.0)
    med = stats.median
    layer["session.start_s"] = med([s["start_s"] for s in result.setups])
    layer["registry.load_s"] = med([s["registry_s"] for s in result.setups])
    layer["warmup_s"] = med([s["warmup_s"] for s in result.setups])
    layer["session.cold_setup_s"] = result.setups[0]["total"]
    layer.update(result.op_latency())

    # Spark totals of the timed units (batches; passes), per unit; the
    # untimed warm-up batch and output checks are left out.
    unit_name = "batch" if workload == "tick_store" else "pass"
    units = [s for s in tracer.spans if s.name == unit_name]
    totals = _group_totals(tracer, folded, [s.id for s in units])
    n = result.units
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_write_bytes", "spill_bytes"):
        layer[f"spark.{k}"] = totals[k] / n
    layer["spark.slot_busy_frac"] = totals["executor_run_s"] / (result.timed_s * cores)
    layer["udf.python_eval_s"] = totals["python_eval_s"] / n
    layer["udf.python_rows"] = totals["python_rows"] / n
    layer["trace.overhead_frac"] = _tracing_overhead(workload, result.pass_s())

    if workload == "tick_store":
        writes = extra["writes"]
        layer["storage.write_s"] = med([dt for _, dt, _ in writes])
        layer["storage.write_rows_per_s"] = sum(r for r, _, _ in writes) / sum(dt for _, dt, _ in writes)
        layer["storage.write_files"] = med(extra["files_added"])
        layer["storage.files_total"] = extra["files_total"]
        layer["storage.bytes_total"] = extra["bytes_total"]
        layer["storage.space_amp"] = extra["space_amp"]
        reads = extra["reads"]
        kids = {s.id: {c.name: c for c in tracer.children(s.id)} for s in reads}
        layer["storage.read_build_s"] = med([kids[s.id]["read.build"].seconds for s in reads])
        layer["storage.read_collect_s"] = med([kids[s.id]["read.collect"].seconds for s in reads])
        per_read = [_group_totals(tracer, folded, [s.id]) for s in reads]
        layer["storage.read_jobs"] = med([t["jobs"] for t in per_read])
        scanned = sum(t["input_records"] for t in per_read)
        layer["storage.read_useful_frac"] = sum(extra["returned"]) / scanned if scanned else 0.0
        layer["storage.scan_s"] = med([dt for dt, _ in extra["scans"]])
        layer["storage.scan_jobs"] = med([_group_totals(tracer, folded, [s.id])["jobs"] for _, s in extra["scans"]])
    else:
        for q in WORKLOADS[workload]:
            spans = [s for s in tracer.spans if s.attrs.get("query") == q]
            kids = [{c.name: c for c in tracer.children(s.id)} for s in spans]
            layer[f"{q}.build_s"] = med([k["build"].seconds for k in kids if "build" in k])
            layer[f"{q}.exec_s"] = med([k["exec"].seconds for k in kids if "exec" in k])
            layer[f"{q}.jobs"] = med([_group_totals(tracer, folded, [s.id])["jobs"] for s in spans])
        live = extra["live"]
        layer["ckpt.live_rdds"] = max(n for _, n, _ in live)
        layer["ckpt.live_mb"] = max(mb for _, _, mb in live)
    return layer


def _write_trace(workload, seed, tracer, folded, result) -> None:
    """Spans, the per-group fold and the per-layer table, kept next to the
    checkout's other benchmark output; the table also goes to stderr."""
    path = os.path.join(OUT_DIR, f"trace-{workload}-{seed}.json")
    tracer.dump(path + ".spans")
    with open(path, "w") as fh:
        json.dump({"per_layer": result.layer, "groups": folded}, fh, indent=1)
    for k, v in result.layer.items():
        if v:
            print(f"  {k:40s} {v:.6g}", file=sys.stderr)
