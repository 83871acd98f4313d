"""Timing evidence that the realtime ABSORB is off the crawl round's
critical path (round-5 verdict next-round #3, "Done =" criterion).

Since round 6 the crawl appends each round's delta with ``defer_merge=True``
and submits ``merge_realtime`` to a single background thread, so the absorb
overlaps the NEXT round's schedule/fetch phases instead of stepping the
absorbing round's wall time. This script measures that: a multi-round crawl
with an aggressive merge policy (rt_max_segments=2 → an absorb every third
round), per-round wall times, and a summary comparing absorb-triggering
rounds against their neighbors. For per-phase timing of a round, run
``python3 perfbench/run.py --workload crawl --seed N --trace 1``.

Run: python scripts/absorb_timing.py [n_pages] [n_rounds]
Appends a JSON line per round plus a summary to stdout; paste the summary
into BASELINE.md's round table.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from aspseek_spark.config import CrawlConfig  # noqa: E402
from aspseek_spark.plans.crawl_loop import CrawlJob  # noqa: E402
from aspseek_spark.plans.search_job import SearchJob  # noqa: E402
from aspseek_spark.sources.tables import StateStore  # noqa: E402
from aspseek_spark.sources.webgen import WebSpec, write_web  # noqa: E402

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
N_ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 9
RT_MAX = 2  # absorb triggers whenever >2 committed segments exist


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("aspseek_absorb_timing")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="aspseek_absorb_timing_")
    web = os.path.join(tmp, "web")
    write_web(web, WebSpec(n_pages=N_PAGES, seed=42, seed_hosts_frac=0.25))
    store = StateStore(os.path.join(tmp, "state"), spark)
    cfg = CrawlConfig(shuffle_partitions=8, bloom_partitions=8)
    sj = SearchJob(
        spark, os.path.join(tmp, "index"), n_buckets=16,
        rt_max_segments=RT_MAX,
    )
    job = CrawlJob(
        spark, store, cfg,
        spark.read.parquet(f"{web}/pages.parquet"),
        spark.read.parquet(f"{web}/robots_src.parquet"),
        realtime_index=sj,
    )
    job.ensure_init(spark.read.parquet(f"{web}/seeds.parquet"))

    # count actual submissions (the policy decision happens inside run_one,
    # after the append — observe it directly rather than re-deriving it)
    submissions: list[int] = []
    orig_submit = job._submit_absorb

    def counting_submit() -> None:
        submissions.append(rows[-1]["round"] if rows else 0)
        orig_submit()

    job._submit_absorb = counting_submit  # type: ignore[method-assign]

    rows: list[dict] = []
    for r in range(1, N_ROUNDS + 1):
        pre_segs = len(sj._manifest()["segments"])
        rows.append({"round": r})
        t0 = time.time()
        job.run_one(r)
        wall = time.time() - t0
        # run_one appends one segment, then (post-commit) submits the
        # background absorb when the policy fires — this round's wall time
        # should NOT carry the absorb
        rows[-1].update(
            wall_s=round(wall, 2),
            segments_before=pre_segs,
            absorb_submitted=r in submissions,
        )
        print(json.dumps(rows[-1]), flush=True)
    job.join_realtime()

    absorb = [x["wall_s"] for x in rows[1:] if x["absorb_submitted"]]
    quiet = [x["wall_s"] for x in rows[1:] if not x["absorb_submitted"]]
    summary = {
        "metric": "absorb_round_overhead",
        "n_pages": N_PAGES,
        "rounds": N_ROUNDS,
        "rt_max_segments": RT_MAX,
        "absorb_round_mean_s": round(sum(absorb) / len(absorb), 2),
        "quiet_round_mean_s": round(sum(quiet) / len(quiet), 2),
        "ratio": round(
            (sum(absorb) / len(absorb)) / (sum(quiet) / len(quiet)), 3
        ),
    }
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
