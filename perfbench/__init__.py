"""Benchmark of the package: workloads, probes and output checks.
Run ``python3 perfbench/run.py --help`` from the repository root."""
