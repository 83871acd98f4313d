"""Round-7 profiling harness (guide §1) — separate from the FROZEN bench.py.

Modes (first CLI arg):
  queries [sf_dir] [repeats]  — time each headline query in isolation with
      the noop sink (guide §1.4: computes every column, no count() pruning),
      label jobs, print one JSON line {query: [secs...]}.
  explain [sf_dir] [outdir]   — write .explain("formatted") for each
      headline query to <outdir>/<name>.txt (the plans/r07 evidence files).

Per-phase crawl timing: python3 perfbench/run.py --workload crawl --seed N
--trace 1.

Uses bench.build_spark / bench.ensure_bench_web so session config and the
web fixture match the frozen harness exactly.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen harness: config + fixture helpers)

HEADLINE = [
    "q01_pricing_summary",
    "q05_top_orders_per_customer",
    "q06_customers_without_orders",
    "q07_exact_dedup_docs",
    "q09_events_hourly",
    "q15_token_stats",
    "q23_ann_cosine_topk",
    "q28_sessionize",
    "q35_postings_and_phrase",
    "q38_word_doc_freq",
]


def _spark():
    spark = bench.build_spark(bench.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def mode_queries(sf_dir: str, repeats: int = 3) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    # warm the JVM + the stored index exactly like the driver's warmup run
    for name in HEADLINE:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out: dict[str, list[float]] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"r07 {name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = samples
    print(json.dumps({"sf_dir": sf_dir, "noop_secs": out}))


def mode_queries_count(sf_dir: str, repeats: int = 3) -> None:
    """Times with the frozen harness's own methodology (build + .count())."""
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    for name in HEADLINE:
        qs[name](spark, sf_dir).count()
    out: dict[str, list[float]] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(repeats):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.count()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
    print(json.dumps({"sf_dir": sf_dir, "count_secs": out}))


def mode_explain(sf_dir: str, outdir: str) -> None:
    import contextlib
    import io

    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
    print(f"wrote {len(HEADLINE)} plans to {outdir}")


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else bench.SF_DIR
    if mode == "queries":
        mode_queries(sf_dir, int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "queries_count":
        mode_queries_count(sf_dir, int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "explain":
        mode_explain(sf_dir, sys.argv[3] if len(sys.argv) > 3 else "plans/r07")
    else:
        raise SystemExit(f"unknown mode {mode}")
