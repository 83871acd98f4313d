"""Physical-plan inspection for the crawl round's key operators
(SURVEY.md §4: verify pushdown / broadcast / no stray shuffles).

Run: python scripts/explain_plans.py
Greps each plan for the properties the design promises and prints
PASS/FAIL per check plus the formatted plans (to .cache/plans.txt).
"""

from __future__ import annotations

import io
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, must: list[str], must_not: list[str]) -> bool:
    ok = True
    for s in must:
        if s.lower() not in plan.lower():
            print(f"FAIL {name}: expected '{s}' in plan")
            ok = False
    for s in must_not:
        if s.lower() in plan.lower():
            print(f"FAIL {name}: did NOT expect '{s}' in plan")
            ok = False
    if ok:
        print(f"PASS {name}")
    return ok


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aspseek_spark.config import CrawlConfig
    from aspseek_spark.plans.crawl_round import init_state, run_round
    from aspseek_spark.sources.webgen import WebSpec, write_web

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    web = tempfile.mkdtemp()
    write_web(web, WebSpec(n_pages=300, seed=42))
    pages = spark.read.parquet(f"{web}/pages.parquet")
    robots_src = spark.read.parquet(f"{web}/robots_src.parquet")
    seeds = spark.read.parquet(f"{web}/seeds.parquet")
    cfg = CrawlConfig(bloom_partitions=4, bloom_bits_per_partition=1 << 14)

    st = init_state(spark, seeds, cfg)
    frontier = st.frontier.localCheckpoint()
    seen = st.seen_delta.localCheckpoint()
    bloom = st.bloom.localCheckpoint()
    from aspseek_spark.operators.robots_join import empty_robots

    res = run_round(
        spark, 1, cfg, frontier, seen, bloom, empty_robots(spark),
        pages, robots_src, truncate_lineage=False,
    )

    all_ok = True
    plans = {}

    # 1. frontier due-scan predicate pushes to the parquet read
    due_scan = spark.read.parquet(f"{web}/pages.parquet").filter(
        F.col("lang") == "en"
    ).select("url", "lang")
    p = plan_of(due_scan)
    plans["pushdown"] = p
    all_ok &= check(
        "parquet pushdown + pruning", p,
        must=["PushedFilters", "ReadSchema: struct<url:string,lang:string>"],
        must_not=["html"],
    )

    # 2. fetch join: pages side must NOT shuffle; scheduled side broadcast
    p = plan_of(res.fetched)
    plans["fetched"] = p
    all_ok &= check(
        "fetch join broadcasts scheduled batch", p,
        must=["BroadcastHashJoin"],
        must_not=[],
    )

    # 3. whole-stage codegen present in the scheduling path (formatted
    # explain marks codegen'd nodes with "[codegen id : N]")
    all_ok &= check(
        "codegen spans", p, must=["codegen id"], must_not=[]
    )

    # 4. seen test: exact backstop must be broadcast, not sort-merge
    p = plan_of(res.seen_delta)
    plans["seen_delta"] = p
    all_ok &= check(
        "seen backstop broadcast (no SMJ on seen)", p,
        must=["BroadcastHashJoin"], must_not=["SortMergeJoin"],
    )

    # 5. politeness windows partition by host(+salt), no global sort
    p = plan_of(res.frontier)
    plans["frontier"] = p
    all_ok &= check(
        "politeness window partitioned (no single-partition sort)", p,
        must=["Window"], must_not=["rangepartitioning(priority"],
    )

    # 6. leftover is rank-derived from the politeness windows — NOT an
    # anti-join against a broadcast of the scheduled batch (round-1
    # scale-killer #4)
    from aspseek_spark.operators.politeness import schedule_round_split

    _, leftover_df, lo_persisted = schedule_round_split(
        frontier, cfg, cfg.round_ts_unix(1)
    )
    p = plan_of(leftover_df)
    plans["leftover"] = p
    all_ok &= check(
        "leftover derived from window ranks (no anti-join, no broadcast)", p,
        must=["Window"], must_not=["LeftAnti", "BroadcastExchange"],
    )
    for df in lo_persisted:
        df.unpersist()

    # 7. robots join: the cache is semi-joined down to due hosts BEFORE the
    # broadcast — never an unconditional cache broadcast (scale-killer #3)
    all_ok &= check(
        "robots cache sliced to due hosts (semi-join present)",
        plans["fetched"],
        must=["LeftSemi"], must_not=[],
    )

    # 8. big-batch fetch path: above fetch_broadcast_limit the join must be
    # shuffle-hash (never a sort of the pages side, never a broadcast of an
    # over-limit batch). limit=-1 forces the big-batch path in inspection
    # mode (where n_sched is pinned to 0).
    big_cfg = CrawlConfig(
        bloom_partitions=4, bloom_bits_per_partition=1 << 14,
        fetch_broadcast_limit=-1,
    )
    res_big = run_round(
        spark, 1, big_cfg, frontier, seen, bloom, empty_robots(spark),
        pages, robots_src, truncate_lineage=False,
    )
    p = plan_of(res_big.fetched)
    plans["fetched_big_batch"] = p
    all_ok &= check(
        "over-limit batch uses shuffle-hash join (no sort-merge)", p,
        must=["ShuffledHashJoin"], must_not=["SortMergeJoin"],
    )

    # 9. bloom metrics are distributed: crawl_loop aggregates the committed
    # bloom TABLE, and the parquet scan must prune the blob column out —
    # only the (fill_ratio, n_keys) scalars ever leave the files
    from aspseek_spark.sources.tables import BLOOM_SCHEMA

    bdir = tempfile.mkdtemp()
    spark.createDataFrame(
        [(0, bytearray(b"\x00" * 8), 1, 0.125, 2)], BLOOM_SCHEMA
    ).write.parquet(f"{bdir}/bloom")
    agg = (
        spark.read.schema(BLOOM_SCHEMA)
        .parquet(f"{bdir}/bloom")
        .agg(F.avg("fill_ratio").alias("fill"), F.sum("n_keys").alias("keys"))
    )
    p = plan_of(agg)
    plans["bloom_metrics"] = p
    all_ok &= check(
        "bloom metrics scan prunes blob bytes", p,
        must=["ReadSchema: struct<n_keys:bigint,fill_ratio:double>"],
        must_not=[],
    )

    # 10. J1 exact backstop at scale: against the BUCKETED seen table the
    # anti-join must be bucket-local — the seen scan sits under NO Exchange
    # and nothing is broadcast (the maybe slice grows with the batch and
    # must never broadcast; only it shuffles, into the bucket layout).
    from aspseek_spark.operators.seen import seen_filter_new
    from aspseek_spark.sources.tables import StateStore, SEEN_SCHEMA

    sroot = tempfile.mkdtemp()
    sstore = StateStore(sroot, spark)
    seed_seen = spark.createDataFrame(
        [(f"http://h{i % 40:04d}.test/p{i}.html", i, i, 0) for i in range(500)],
        SEEN_SCHEMA,
    )
    # commit the seed seen set as round 0 (the bucketed table is written
    # with the round, exactly as the crawl writes it)
    with ThreadPoolExecutor(4) as pool:
        sstore.write_round(
            0, cfg, frontier=frontier, bloom=bloom, seen_delta=seed_seen,
            robots_delta=empty_robots(spark), submit=pool.submit,
        )
    bucketed_seen = sstore.read_seen_bucketed(0, cfg)
    cand = frontier.select("url_canon", "url_hash64", "hash32", "host", "depth")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        filtered = seen_filter_new(cand, bloom, bucketed_seen, cfg)
        p = plan_of(filtered)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    plans["seen_backstop_bucketed"] = p
    # "Bucketed: true" = the planner USED the bucket layout (a bucketed scan
    # the planner reshuffles is reported "Bucketed: false (disabled by query
    # planner)"), so together with zero BroadcastExchange this proves the
    # seen side neither shuffles nor broadcasts — only the maybe slice moves.
    all_ok &= check(
        "bucketed seen backstop: bucket-local anti-join, no broadcast", p,
        must=["Bucketed: true", "LeftAnti"],
        must_not=["BroadcastExchange", "Bucketed: false"],
    )

    # 11. the DRIVER entries' search families serve from the stored
    # bucketed index (round-5 verdict next-round #1): the q35 entry's scan
    # must carry PartitionFilters on word_bucket (probe pruned to the query
    # terms' buckets) — not a re-tokenize of the documents corpus.
    import __spark_entry__ as entrymod

    q35 = entrymod.queries()["q35_postings_and_phrase"](
        spark, "/root/testdata/sf0.001"
    )
    p = plan_of(q35)
    plans["driver_q35_stored_probe"] = p
    all_ok &= check(
        "driver q35 probes the stored index with partition pruning", p,
        must=["PartitionFilters: [word_bucket"],
        must_not=[],
    )

    with open("/root/repo/.cache/plans.txt", "w") as f:
        for k, v in plans.items():
            f.write(f"===== {k} =====\n{v}\n")
    print("plans written to .cache/plans.txt")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    import os

    os.makedirs("/root/repo/.cache", exist_ok=True)
    main()
