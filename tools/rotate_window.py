"""Grading-window rotation inputs.

The driver grades the FIRST 50 keys of ``workload.QUERIES``; the rotation
policy (round-5 verdict ask #6) is oldest-proven-first. ``workload.py``
derives the window at import time from the committed
``CORRECTNESS_r*.json`` captures through ``latest_green_rounds``, which
this module re-exports for tests and ad-hoc inspection.
"""

from __future__ import annotations

from parquet_index_spark.workload import latest_green_rounds  # noqa: F401
