"""URL expiry / tag deletion → re-crawl (north_star: cuckoo fallback for
deletions; reference: DELETE from urlword then re-discovery).

Two layers:
  1. cuckoo_seen operator: true deletes in the partitioned filter state —
     deleted keys stop probing as seen, remaining keys never false-negative.
  2. end-to-end: after N rounds, expire one fetched URL (seen + frontier +
     filter state via StateStore.delete_urls); the next rounds re-discover
     and re-fetch it exactly like an oracle whose state got the same
     deletion.

Every case starts from one shared 2-round crawl, copied per case: a
deletion that dies part-way leaves one whole commit, and every mutation
commits with exactly one os.replace.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from aspseek_spark.config import CrawlConfig
from aspseek_spark.operators.cuckoo_seen import (
    cuckoo_add,
    cuckoo_delete,
    cuckoo_probe,
)
from aspseek_spark.operators.seen import BLOOM_FMT, bloom_probe
from aspseek_spark.oracle.model_crawler import crawl, load_fixture_dicts
from aspseek_spark.plans.crawl_loop import CrawlJob
from aspseek_spark.sources.tables import BLOOM_SCHEMA, StateStore


class Injected(RuntimeError):
    pass


@pytest.fixture()
def cfg():
    return CrawlConfig(
        bloom_partitions=4,
        bloom_bits_per_partition=1 << 14,
        bloom_num_hashes=5,
        host_budget=4,
    )


def test_cuckoo_state_add_delete_probe(spark, cfg):
    urls = spark.createDataFrame(
        [(f"http://h{i % 7}.test/p{i}",) for i in range(200)], "url_canon string"
    )
    empty = spark.createDataFrame([], "pid int, table binary, n_buckets int, n_keys long")
    state = cuckoo_add(urls, empty, cfg)
    probed = cuckoo_probe(urls, state, cfg)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # no false negs

    doomed = urls.filter(F.xxhash64("url_canon") % 3 == 0)
    kept = urls.filter(F.xxhash64("url_canon") % 3 != 0)
    n_doomed = doomed.count()
    assert 0 < n_doomed < 200
    state2 = cuckoo_delete(doomed, state, cfg)
    # deleted keys no longer probe as seen (fp collisions ~0 at this load)
    gone = cuckoo_probe(doomed, state2, cfg)
    assert gone.filter(F.col("maybe_seen")).count() == 0
    # remaining keys still have no false negatives
    still = cuckoo_probe(kept, state2, cfg)
    assert still.filter(~F.col("maybe_seen")).count() == 0


# Period == round interval so every page revisits each round — re-discovery
# of an expired URL (via its parent's re-parse) is guaranteed, not incidental.
RECRAWL_CFG = CrawlConfig(
    period_s=3600,
    round_interval_s=3600,
    host_budget=4,
    bloom_partitions=8,
    bloom_bits_per_partition=1 << 16,
    bloom_num_hashes=5,
)


def _job(spark, tiny_web, store):
    return CrawlJob(
        spark,
        store,
        RECRAWL_CFG,
        spark.read.parquet(f"{tiny_web}/pages.parquet"),
        spark.read.parquet(f"{tiny_web}/robots_src.parquet"),
    )


def _seeds(spark, tiny_web):
    return spark.read.parquet(f"{tiny_web}/seeds.parquet")


def _replaces(fn) -> list[str]:
    """``fn()``; the targets of the os.replace calls it made."""
    replaced = []
    real_replace = os.replace

    def counting_replace(src, dst):
        replaced.append(dst)
        real_replace(src, dst)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "replace", counting_replace)
        fn()
    return replaced


@pytest.fixture(scope="module")
def crawled(spark, tiny_web, tmp_path_factory):
    """The 2-round crawl every case copies, and the os.replace targets of
    each of its commits."""
    root = str(tmp_path_factory.mktemp("crawled") / "state")
    job = _job(spark, tiny_web, StateStore(root, spark))
    seeds = _seeds(spark, tiny_web)
    replaced = {"ensure_init": _replaces(lambda: job.ensure_init(seeds))}
    for r in (1, 2):
        replaced[f"run_one({r})"] = _replaces(lambda: job.run_one(r))
    return root, replaced


@pytest.fixture(scope="module")
def target(tiny_web):
    """A target the ORACLE confirms is re-discoverable after deletion
    (S7 means stale parents answer 304 on revisit and never re-parse, so
    not every deleted URL re-surfaces within the horizon). The oracle is
    pure Python and instant at this scale — consult it per candidate."""
    pages, robots_src, seed_urls = load_fixture_dicts(tiny_web)
    base2 = crawl(pages, robots_src, seed_urls, RECRAWL_CFG, 2)
    candidates = sorted(
        u for u, r in base2.frontier.items()
        if u in base2.seen and r.depth > 0
    )
    for u in candidates[:40]:
        trial = crawl(
            pages, robots_src, seed_urls, RECRAWL_CFG, 4, deletions={2: {u}}
        )
        if u in trial.seen:
            return u
    raise AssertionError("no re-discoverable URL in the first 40")


def _copy(spark, crawled, tmp_path) -> StateStore:
    root = str(tmp_path / "state")
    shutil.copytree(crawled[0], root)
    return StateStore(root, spark)


def _fetches_and_seen(store, n):
    eng = sorted(
        (r["round"], r["sched_unix"], r["host"], r["url_canon"], r["status"])
        for r in store.read_fetched(n).collect()
    )
    return eng, {r["url_canon"] for r in store.read_seen(n).collect()}


def _oracle(tiny_web, n, deletions=None):
    pages, robots_src, seed_urls = load_fixture_dicts(tiny_web)
    ora = crawl(pages, robots_src, seed_urls, RECRAWL_CFG, n, deletions=deletions)
    exp = sorted(
        (f.round, f.sched_unix, f.host, f.url_canon, f.status)
        for f in ora.fetches
    )
    return exp, ora.seen


def test_delete_then_recrawl_matches_oracle(
    spark, tiny_web, crawled, target, tmp_path
):
    """Expire one URL after round 2 → rounds 3-4 re-discover and re-fetch it
    identically to the oracle given the same deletion schedule."""
    cfg = RECRAWL_CFG
    store = _copy(spark, crawled, tmp_path)
    job = _job(spark, tiny_web, store)
    seeds = _seeds(spark, tiny_web)

    deletions = {2: {target}}
    store.delete_urls(2, [target], cfg)
    assert store.read_seen(2).filter(F.col("url_canon") == target).count() == 0
    assert (
        store.read_frontier(2).filter(F.col("url_canon") == target).count() == 0
    )

    job.run(seeds, 4)  # resumes at round 3

    pages, robots_src, seed_urls = load_fixture_dicts(tiny_web)
    ora = crawl(pages, robots_src, seed_urls, cfg, 4, deletions=deletions)

    eng = sorted(
        (r["round"], r["sched_unix"], r["host"], r["url_canon"], r["status"])
        for r in store.read_fetched(4).collect()
    )
    exp = sorted(
        (f.round, f.sched_unix, f.host, f.url_canon, f.status)
        for f in ora.fetches
    )
    assert eng == exp
    eng_seen = {r["url_canon"] for r in store.read_seen(4).collect()}
    assert eng_seen == ora.seen
    # the expired URL was re-discovered on both sides
    assert target in eng_seen and target in ora.seen


def _holds(store, target) -> dict[str, bool]:
    """Whether each committed view of round 2 holds ``target``."""
    def has(df):
        return df.filter(F.col("url_canon") == target).count() > 0

    probe = bloom_probe(
        store.spark.createDataFrame([(target,)], "url_canon string"),
        store.read_bloom(2), RECRAWL_CFG,
    )
    return {
        "seen": has(store.read_seen(2)),
        "frontier": has(store.read_frontier(2)),
        "bucketed": has(store.read_seen_bucketed(2, RECRAWL_CFG)),
        "probe": probe.filter("maybe_seen").count() > 0,
    }


@pytest.mark.parametrize("crash", ["before_publish", "after_publish"])
def test_delete_urls_crash_leaves_one_whole_commit(
    crash, spark, tiny_web, crawled, target, tmp_path
):
    """A deletion that dies before its commit point (while writing the
    frontier) or right after it (the manifest's os.replace has happened)
    leaves one whole commit: the seen set, the frontier, the bucketed
    backstop and the probe state all hold the target, or none does. The
    crawl resumed after the later crash matches the oracle — the one with
    the deletion if it committed, the one without it otherwise."""
    store = _copy(spark, crawled, tmp_path)
    manifest = os.path.join(store.root, "manifest.json")
    with pytest.MonkeyPatch.context() as mp:
        if crash == "before_publish":
            def boom(config):
                raise Injected("died writing the frontier")

            mp.setattr(StateStore, "_fpart_granularity", staticmethod(boom))
        else:
            real_replace = os.replace

            def replace_then_die(src, dst):
                real_replace(src, dst)
                if dst == manifest:
                    raise Injected("died right after the commit point")

            mp.setattr(os, "replace", replace_then_die)
        with pytest.raises(Injected):
            store.delete_urls(2, [target], RECRAWL_CFG)

    resumed = StateStore(store.root, spark)
    held = _holds(resumed, target)
    assert len(set(held.values())) == 1, held
    if crash == "before_publish":
        return
    _job(spark, tiny_web, resumed).run(_seeds(spark, tiny_web), 4)
    got = _fetches_and_seen(resumed, 4)
    assert got in (
        _oracle(tiny_web, 4, deletions={2: {target}}), _oracle(tiny_web, 4)
    )
    # the resumed commits swept what the crashed deletion released: the
    # frontier's first generation, the deltas it consolidated
    assert not os.path.exists(os.path.join(store.root, "frontier_rounds"))
    assert not os.path.exists(store._p("seen_delta", 0))


def test_every_mutation_commits_once(
    spark, tiny_web, crawled, target, tmp_path
):
    """ensure_init (round 0), run_one, delete_urls and a probe-format
    rebuild on resume each commit with exactly one os.replace: the
    store's manifest.json. No other pointer file is ever written."""
    root, replaced = crawled
    manifest = os.path.join(root, "manifest.json")
    assert replaced == {
        k: [manifest] for k in ("ensure_init", "run_one(1)", "run_one(2)")
    }

    deleted = _copy(spark, crawled, tmp_path / "deleted")
    assert _replaces(
        lambda: deleted.delete_urls(2, [target], RECRAWL_CFG)
    ) == [os.path.join(deleted.root, "manifest.json")]

    # a committed bloom stamped with a stale format version (fmt=1)
    stale = _copy(spark, crawled, tmp_path / "stale")
    m = RECRAWL_CFG.bloom_bits_per_partition
    spark.createDataFrame(
        [(p, bytearray(m // 8), 0, 0.0, 1)
         for p in range(RECRAWL_CFG.bloom_partitions)],
        BLOOM_SCHEMA,
    ).localCheckpoint().write.mode("overwrite").parquet(stale._p("bloom", 2))
    job = _job(spark, tiny_web, stale)
    assert _replaces(
        lambda: job.ensure_init(_seeds(spark, tiny_web))
    ) == [os.path.join(stale.root, "manifest.json")]
    assert {r["fmt"] for r in stale.read_bloom(2).collect()} == {BLOOM_FMT}

    for store_root in (root, deleted.root, stale.root):
        for dp, _dn, fns in os.walk(store_root):
            assert "seen_bucketed.json" not in fns
