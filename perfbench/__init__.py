"""Dedup benchmark: the batch pipeline at r=1 and at r=2.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``BENCHMARK.json`` at the root
lists the workloads and metrics.
"""
