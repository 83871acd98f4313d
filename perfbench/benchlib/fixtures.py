"""Seeded inputs, prepared once per seed and cached in the checkout.

A fixture is a synthetic web from ``webgen`` plus the reference crawl of
it by the pure-Python oracle (``oracle.model_crawler``):

  web/                     pages / robots_src / seeds parquet (program input)
  fetched.parquet          the crawl's fetched rows, in the engine's
                           ``fetched`` layout for the columns the search
                           index reads (round, url_canon, url_hash64, host,
                           status, text, title, sched_unix)
  oracle.json              per-round (urls_scheduled, new_urls,
                           frontier_size) of rounds 1..CRAWL_ROUNDS and
                           fetched URLs per round

The test suite holds the engine to the oracle (fetch order, seen set,
byte-identical text), so the oracle's fetched rows are the engine's. They
feed the search and refresh workloads without a Spark crawl in their
process, and they are the crawl workload's correctness reference."""

from __future__ import annotations

import json
import os
import shutil

FIXTURE_VERSION = 3
N_PAGES = 5_000
BODY_WORDS = 40
SEED_HOSTS_FRAC = 0.25
N_ROUNDS = 8  # rounds in fetched.parquet (search and refresh input)
CRAWL_ROUNDS = 3  # rounds the crawl workload may run and check


def crawl_config(cpus: int):
    """bench.py's bench_crawl configuration with bloom and shuffle
    partitions set to the host's core count."""
    from aspseek_spark.config import CrawlConfig

    return CrawlConfig(
        host_budget=64,
        bloom_partitions=cpus,
        bloom_bits_per_partition=1 << 22,
        bloom_num_hashes=7,
        shuffle_partitions=cpus,
    )


def fixture_dir(cache_root: str, seed: int) -> str:
    return os.path.join(
        cache_root, f"web_n{N_PAGES}_w{BODY_WORDS}_s{seed}_v{FIXTURE_VERSION}"
    )


def _oracle_rounds(pages, robots, seeds, cfg) -> tuple[list[dict], list]:
    """Per-round counts need the oracle's state after every round; its
    public entry point returns only the final state, so it is run once per
    prefix length, then once for all N_ROUNDS (the fetched rows)."""
    from aspseek_spark.oracle.model_crawler import crawl

    rounds, prev_seen = [], None
    for n in range(0, CRAWL_ROUNDS + 1):
        res = crawl(pages, robots, seeds, cfg, n)
        if n > 0:
            rounds.append({
                "round": n,
                "urls_scheduled": sum(1 for f in res.fetches if f.round == n),
                "new_urls": len(res.seen) - prev_seen,
                "frontier_size": len(res.frontier),
            })
        prev_seen = len(res.seen)
    return rounds, crawl(pages, robots, seeds, cfg, N_ROUNDS).fetches


def _write_fetched(fetches, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aspseek_spark.functions.hashing import spark_xxhash64

    cols = {
        "round": pa.array([f.round for f in fetches], pa.int32()),
        "url_canon": pa.array([f.url_canon for f in fetches], pa.string()),
        "url_hash64": pa.array(
            [spark_xxhash64(f.url_canon) for f in fetches], pa.int64()
        ),
        "host": pa.array([f.host for f in fetches], pa.string()),
        "status": pa.array([f.status for f in fetches], pa.int32()),
        "text": pa.array([f.text for f in fetches], pa.string()),
        "title": pa.array([f.title for f in fetches], pa.string()),
        "sched_unix": pa.array([f.sched_unix for f in fetches], pa.int64()),
    }
    pq.write_table(pa.table(cols), path)


def prepare(cache_root: str, seed: int, cpus: int) -> str:
    """Build (or reuse) the fixture for ``seed``; returns its directory."""
    from aspseek_spark.oracle.model_crawler import load_fixture_dicts
    from aspseek_spark.sources.webgen import WebSpec, write_web

    out = fixture_dir(cache_root, seed)
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    web = os.path.join(tmp, "web")
    write_web(web, WebSpec(
        n_pages=N_PAGES, seed=seed, body_words=BODY_WORDS,
        seed_hosts_frac=SEED_HOSTS_FRAC,
    ))
    pages, robots, seeds = load_fixture_dicts(web)
    rounds, fetches = _oracle_rounds(pages, robots, seeds, crawl_config(cpus))
    _write_fetched(fetches, os.path.join(tmp, "fetched.parquet"))
    by_round: dict[int, list[str]] = {}
    for f in fetches:
        by_round.setdefault(f.round, []).append(f.url_canon)
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump({
            "rounds": rounds,
            "fetched_urls": {str(r): sorted(u) for r, u in by_round.items()},
        }, f)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("ok")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def load_oracle(fixture: str) -> dict:
    with open(os.path.join(fixture, "oracle.json")) as f:
        return json.load(f)
