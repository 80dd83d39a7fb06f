"""Benchmark of record for openmatch_spark (see perfbench/README.md).

Run it from the repository root:

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 20 --trace 0
"""
