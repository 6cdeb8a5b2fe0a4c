"""Extraction benchmark for exstruct_spark (see perfbench/README.md).

Run it from the root of a checkout::

    python3 perfbench/run.py --workload bench_small --seed 1 --seconds 10 --trace 0
"""
