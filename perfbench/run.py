"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run is one closed-loop client in one
process: it starts its own session through ``session.get_spark`` with the
program's defaults, sets up three times (the first on a fresh JVM) and
reports the median set-up, then times the workload's calls (passes over
the queries, or tick-store batches of a write, reads and a scan after one
untimed warm-up batch) until ``--seconds`` have been measured, checks every
output outside the timed calls, and prints one JSON line last: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1`` (spans
plus Spark's event log, folded per span). See perfbench/README.md.

The benchmark calls only public functions of the program and never its
cleanup internals, so state a query leaves behind shows in the numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes (Python and JVM temp files, Spark
    local dirs, a relative warehouse dir) inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "corintick_spark")):
        print(f"no corintick_spark package under {ROOT}: run from a repository checkout", file=sys.stderr)
        return 2

    work = os.path.join(workloads.OUT_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    # The JVM inherits fd 1 and prints banners there; send all of that to
    # stderr and keep a private copy of stdout for the report.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(1), "w", buffering=1)
    try:
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(workloads.summary_line(args.workload, args.seed, result), file=real_stdout)
    print(json.dumps(result.report(bool(args.trace))), file=real_stdout)
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
