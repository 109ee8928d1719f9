"""End-to-end and per-layer benchmark of the KG and corpus-prep pipelines.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1``. See ``perfbench/README.md``.
"""
