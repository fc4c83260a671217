"""End-to-end and per-layer benchmark of the taxi pipeline engine.

Run from the repository root: ``python3 perfbench/run.py --workload
medallion --seed 1 --seconds 30 --trace 0``. See ``README.md`` here.
"""
