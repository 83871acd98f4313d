"""Support code for ``perfbench/run.py``: host-derived Spark sessions,
fixtures, seeded query generation, process-tree memory sampling, span
tracing joined to the Spark event log, and the three workloads."""
