"""Names, units and directions of the metrics run.py prints in its final
JSON line; BENCHMARK.json declares the same set (a test keeps them equal)."""

from __future__ import annotations

from .layers import json_metric_names

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "op_ms": ("ms", "lower"),
}

_HIGHER = {
    "spark.busy_ratio", "seen.spared_ratio", "politeness.scheduled_ratio",
    "search_job.qcache_hit_ratio",
}


def unit_of(name: str) -> str:
    words = name.rsplit(".", 1)[-1].split("_")
    if words[-1] == "ms":
        return "ms"
    if "mb" in words:
        return "MB"
    if words[-1] in ("ratio", "amp"):
        return "ratio"
    return "count"


def per_layer() -> dict[str, tuple[str, str]]:
    names = json_metric_names() + ["trace.overhead_ratio"]
    return {
        n: (unit_of(n), "higher" if n in _HIGHER else "lower") for n in names
    }
