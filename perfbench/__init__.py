"""Benchmark of the document engine's public entry points.

Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see
``perfbench/README.md`` for the workloads, metrics and layer map.
"""
