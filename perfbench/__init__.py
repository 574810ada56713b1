"""Benchmark of record for the CDC engine: the `replicate` and `serve`
workloads, their seeded generators, correctness oracles and tracer.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the metrics and what each workload stresses."""
