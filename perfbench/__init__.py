"""Seeded, oracle-checked benchmark of the kiri_ocr_spark extraction engine.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the workloads and the metrics.
"""
