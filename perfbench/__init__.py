"""Repository benchmark: nightly star-schema ETL and concurrent BI reads.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. ``BENCHMARK.json`` names the
workloads and metrics; ``perfbench/tests`` holds the benchmark's own
self-tests (``python -m pytest perfbench/tests -q``).
"""
