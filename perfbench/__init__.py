"""Crawl→parse benchmark: named workloads, correctness gate, per-layer trace.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See README.md.
"""
