"""Closed-loop benchmark of the micmac_li3ds_spark engine.

Run one workload with ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root; see
``perfbench/METRICS.md`` for the workloads and every metric.
"""
