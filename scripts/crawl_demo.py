"""End-to-end crawl drive: tiny synthetic web → N rounds → oracle compare.

Run: python scripts/crawl_demo.py [n_pages] [n_rounds]
Prints per-round metrics, fetch-order mismatch count, seen-set equality.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 400
N_ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 4


def main():
    from pyspark.sql import SparkSession

    from aspseek_spark.config import CrawlConfig
    from aspseek_spark.oracle.model_crawler import crawl, load_fixture_dicts
    from aspseek_spark.plans.crawl_loop import CrawlJob
    from aspseek_spark.sources.tables import StateStore
    from aspseek_spark.sources.webgen import WebSpec, write_web

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    web = tempfile.mkdtemp(prefix="aspseek_demo_web_")
    write_web(web, WebSpec(n_pages=N_PAGES, seed=42))
    cfg = CrawlConfig(
        host_budget=4,
        bloom_partitions=8,
        bloom_bits_per_partition=1 << 16,
        bloom_num_hashes=5,
    )
    store = StateStore(tempfile.mkdtemp(prefix="aspseek_demo_state_"), spark)
    job = CrawlJob(
        spark, store, cfg,
        spark.read.parquet(f"{web}/pages.parquet"),
        spark.read.parquet(f"{web}/robots_src.parquet"),
    )
    t0 = time.time()
    for m in job.run(spark.read.parquet(f"{web}/seeds.parquet"), N_ROUNDS):
        print({k: round(v, 2) if isinstance(v, float) else v for k, v in m.items()})
    print(f"engine total: {time.time()-t0:.1f}s")

    pages, robots_src, seeds = load_fixture_dicts(web)
    ora = crawl(pages, robots_src, seeds, cfg, N_ROUNDS)
    eng = store.read_fetched(N_ROUNDS).select(
        "round", "sched_unix", "host", "url_canon", "status", "seq_in_host"
    ).collect()
    eng_s = sorted(tuple(r) for r in eng)
    ora_s = sorted(
        (f.round, f.sched_unix, f.host, f.url_canon, f.status, f.seq_in_host)
        for f in ora.fetches
    )
    mism = sum(1 for a, b in zip(eng_s, ora_s) if a != b) + abs(
        len(eng_s) - len(ora_s)
    )
    eng_seen = {
        r["url_canon"] for r in store.read_seen(N_ROUNDS).select("url_canon").collect()
    }
    print(f"fetches engine={len(eng_s)} oracle={len(ora_s)} mismatches={mism}")
    print(f"seen-set equal: {eng_seen == ora.seen} "
          f"(engine {len(eng_seen)}, oracle {len(ora.seen)})")
    sys.exit(0 if (mism == 0 and eng_seen == ora.seen) else 1)


if __name__ == "__main__":
    main()
