"""KG-construction benchmark: seeded workloads, oracle checks, layer trace.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
