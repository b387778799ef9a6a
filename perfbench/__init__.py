"""Benchmark of corintick_spark: four closed-loop workloads, one client each.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see perfbench/README.md.
"""
