"""End-to-end SEARCH lifecycle drive (the serving-side twin of
crawl_demo.py): crawl a tiny deterministic web, make every round
searchable IMMEDIATELY through the realtime tier, run the query-language
families off the stored index, absorb the segments with merge_realtime,
verify results are identical pre/post-merge AND identical to a fresh full
build, and render the first results page through the s.htm template
contract. Prints a one-line PASS/FAIL summary per check.

Run: python scripts/search_demo.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from aspseek_spark.config import CrawlConfig  # noqa: E402
from aspseek_spark.plans.crawl_loop import CrawlJob  # noqa: E402
from aspseek_spark.plans.search_job import SearchJob  # noqa: E402
from aspseek_spark.sources.tables import StateStore  # noqa: E402
from aspseek_spark.sources.webgen import WebSpec, write_web  # noqa: E402

N_ROUNDS = 3


def main() -> int:
    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("aspseek_search_demo")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="aspseek_search_demo_")
    web = os.path.join(tmp, "web")
    write_web(web, WebSpec(n_pages=600, seed=42, seed_hosts_frac=0.4))
    store = StateStore(os.path.join(tmp, "state"), spark)
    cfg = CrawlConfig(shuffle_partitions=8, bloom_partitions=8)
    sj = SearchJob(spark, os.path.join(tmp, "index"), n_buckets=16)
    # realtime_index: every committed round is searchable immediately —
    # the crawl-then-search cycle as ONE wiring point
    job = CrawlJob(
        spark, store, cfg,
        spark.read.parquet(f"{web}/pages.parquet"),
        spark.read.parquet(f"{web}/robots_src.parquet"),
        realtime_index=sj,
    )
    job.ensure_init(spark.read.parquet(f"{web}/seeds.parquet"))
    ok = True

    def check(name: str, cond: bool, detail: str = "") -> None:
        nonlocal ok
        ok &= bool(cond)
        print(f"{'PASS' if cond else 'FAIL'} {name} {detail}".rstrip())

    for r in range(1, N_ROUNDS + 1):
        job.run_one(r)
    check("realtime segments live", sorted(sj._rt_segments()) == [0, 1, 2])

    queries = [
        "search & engine",
        "crawler | frontier",
        '"search engine"',
        "page & ~robots",
        "index host after:0",
    ]
    pre = {
        q: {(r["doc"], r["score"]) for r in sj.search_query(q).collect()}
        for q in queries
    }
    check(
        "query language pre-merge",
        all(len(v) > 0 for v in pre.values()),
        f"hits={[len(pre[q]) for q in queries]}",
    )
    zone_pre = [
        (r["doc"], r["score"])
        for r in sj.search_zone_ranked(["search", "page"], k=10).collect()
    ]
    check("zone-ranked pre-merge", len(zone_pre) > 0, f"top={len(zone_pre)}")

    # J6 at query time: `link:` against the crawl's REAL link graph — find
    # the most-linked-to page and search for docs that link to it
    links = store.read_links(N_ROUNDS)
    top_dst = (
        links.groupBy("dst_hash64").count()
        .orderBy(F.desc("count"), F.asc("dst_hash64")).first()
    )
    links_to = links.select(
        F.col("src_hash64").alias("doc"),
        F.col("dst_hash64").cast("string").alias("target"),
    )
    link_hits = sj.search_query(
        f"(page | host | search) & link:{top_dst['dst_hash64']}",
        links_to=links_to,
    ).collect()
    check(
        "link: against the crawl graph",
        len(link_hits) >= 1,
        f"linkers={top_dst['count']} hits={len(link_hits)}",
    )

    sj.merge_realtime()
    check("segments absorbed", sj._rt_segments() == [])
    post = {
        q: {(r["doc"], r["score"]) for r in sj.search_query(q).collect()}
        for q in queries
    }
    check("results identical post-merge", post == pre)

    fresh = SearchJob(spark, os.path.join(tmp, "index_fresh"), n_buckets=16)
    fresh.build_from_fetched(store.read_fetched(N_ROUNDS))
    fresh_res = {
        q: {(r["doc"], r["score"]) for r in fresh.search_query(q).collect()}
        for q in queries
    }
    check("merge == fresh full build", fresh_res == post)
    zone_fresh = [
        (r["doc"], r["score"])
        for r in fresh.search_zone_ranked(["search", "page"], k=10).collect()
    ]
    check("zone ranking follows merge", zone_fresh == [
        (r["doc"], r["score"])
        for r in sj.search_zone_ranked(["search", "page"], k=10).collect()
    ])

    page = sj.render_page(["search", "engine"], page_size=5)
    check(
        "rendered results page",
        "<html>" in page and "documents found" in page
        and page.count("<li>") > 0,
        f"bytes={len(page)}",
    )
    # qcache: repeat query is a hit
    sj.search_cached("and", ["search", "engine"])
    sj.search_cached("and", ["engine", "search"])
    check("qcache repeat hit", sj.qcache_hits >= 1)
    print("SUMMARY:", "ALL PASS" if ok else "FAILURES PRESENT")
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
