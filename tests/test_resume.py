"""Checkpoint/resume test (SURVEY.md §5.4, BASELINE.json:6,14):

a job killed after round k's commit resumes and produces frontier, seen set
and fetch order identical to an uninterrupted run — because round logic is a
pure function of committed snapshot state and round_id, and snapshots only
become visible at the atomic manifest publish.
"""

from __future__ import annotations

import pytest

from aspseek_spark.plans.crawl_loop import CrawlJob
from aspseek_spark.sources.tables import StateStore

N_ROUNDS = 3


def _mk_job(spark, tiny_web, test_config, root):
    pages = spark.read.parquet(f"{tiny_web}/pages.parquet")
    robots_src = spark.read.parquet(f"{tiny_web}/robots_src.parquet")
    seeds = spark.read.parquet(f"{tiny_web}/seeds.parquet")
    store = StateStore(root, spark)
    return CrawlJob(spark, store, test_config, pages, robots_src), seeds, store


def _fetch_seq(store):
    rows = store.read_fetched(N_ROUNDS).select(
        "round", "sched_unix", "host", "url_canon", "status"
    ).collect()
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def reference_run(spark, tiny_web, test_config, tmp_path_factory):
    """Uninterrupted N_ROUNDS run — the ground truth both tests compare to."""
    job, seeds, store = _mk_job(
        spark, tiny_web, test_config, str(tmp_path_factory.mktemp("ref"))
    )
    job.run(seeds, N_ROUNDS)
    return store


def test_kill_after_commit_resumes_identically(
    spark, tiny_web, test_config, tmp_path_factory, reference_run
):
    # interrupted run: stop ("kill") after round 1's commit, then a fresh
    # CrawlJob over the same store resumes from the manifest
    root_b = str(tmp_path_factory.mktemp("b"))
    job_b1, seeds_b, store_b = _mk_job(spark, tiny_web, test_config, root_b)
    job_b1.run(seeds_b, 1)
    assert store_b.last_committed_round() == 1

    # fake a partial round-2 left by a crash BEFORE the manifest publish:
    # round 2's frontier partition and seen-delta dirs exist, the manifest
    # still says round 1 → the junk must stay invisible and be overwritten
    import os

    fpart = min(store_b.frontier_map(1))
    junk = (
        os.path.join(root_b, "frontier_rounds", "round=2", f"fpart={fpart}"),
        os.path.join(root_b, "seen_delta", "round=2"),
    )
    for d in junk:
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "junk"), "w") as f:
            f.write("partial write from a crashed attempt")
    assert store_b.last_committed_round() == 1

    job_b2, seeds_b2, store_b2 = _mk_job(spark, tiny_web, test_config, root_b)
    job_b2.run(seeds_b2, N_ROUNDS)
    assert store_b2.last_committed_round() == N_ROUNDS

    assert _fetch_seq(reference_run) == _fetch_seq(store_b2)
    seen_a = {r["url_canon"] for r in reference_run.read_seen(N_ROUNDS).collect()}
    seen_b = {r["url_canon"] for r in store_b2.read_seen(N_ROUNDS).collect()}
    assert seen_a == seen_b
    fr_a = sorted(
        tuple(r)
        for r in reference_run.read_frontier(N_ROUNDS)
        .select("url_canon", "depth", "next_fetch_unix")
        .collect()
    )
    fr_b = sorted(
        tuple(r)
        for r in store_b2.read_frontier(N_ROUNDS)
        .select("url_canon", "depth", "next_fetch_unix")
        .collect()
    )
    assert fr_a == fr_b
    # the resumed round-2 commit replaced the crashed attempt's junk
    for d in junk:
        assert not os.path.exists(os.path.join(d, "junk"))


def test_read_frontier_outside_retained_window_raises(reference_run):
    """The manifest keeps the frontier maps of the last two rounds; an
    older round has no frontier to read and says so."""
    with pytest.raises(FileNotFoundError, match="no committed frontier"):
        reference_run.read_frontier(N_ROUNDS - 2)


def test_stale_bloom_format_rebuilt_on_resume(
    spark, tiny_web, test_config, tmp_path_factory, reference_run
):
    """ADVICE (round 2): blooms written by an older hash family would yield
    silent false negatives if probed blind — and seen_filter_new trusts a
    bloom miss as definitely-new, so already-seen URLs would re-enter the
    frontier and break fetch-order parity. ensure_init must detect the
    format-version mismatch and rebuild the blobs from the exact seen table
    before any round runs."""
    from aspseek_spark.operators.seen import BLOOM_FMT
    from aspseek_spark.sources.tables import BLOOM_SCHEMA

    root = str(tmp_path_factory.mktemp("stale_bloom"))
    job1, seeds, store = _mk_job(spark, tiny_web, test_config, root)
    job1.run(seeds, 1)

    # tamper the committed snapshot: zeroed blobs stamped with a STALE
    # format version (fmt=1, the pre-xxhash64 family). Probed blind, a
    # zeroed bloom answers "definitely new" for every candidate — including
    # every already-seen URL — which provably diverges from the oracle.
    m = test_config.bloom_bits_per_partition
    stale = spark.createDataFrame(
        [
            (p, bytearray(m // 8), 0, 0.0, 1)
            for p in range(test_config.bloom_partitions)
        ],
        BLOOM_SCHEMA,
    ).localCheckpoint()
    stale.write.mode("overwrite").parquet(store._p("bloom", 1))

    job2, seeds2, store2 = _mk_job(spark, tiny_web, test_config, root)
    job2.run(seeds2, N_ROUNDS)

    # rebuild happened (current format stamped back) AND parity holds
    fmts = {r["fmt"] for r in store2.read_bloom(N_ROUNDS).collect()}
    assert fmts == {BLOOM_FMT}
    assert _fetch_seq(reference_run) == _fetch_seq(store2)
    seen_a = {
        r["url_canon"] for r in reference_run.read_seen(N_ROUNDS).collect()
    }
    seen_b = {r["url_canon"] for r in store2.read_seen(N_ROUNDS).collect()}
    assert seen_a == seen_b


def test_untouched_frontier_partitions_not_rewritten(
    spark, tiny_web, test_config, tmp_path_factory
):
    """SNK1 partitioned frontier: a round must leave partitions it did not
    touch byte-identical on disk (same files, same bytes, same mtimes) —
    the property that kills O(frontier) write amplification at 10^10 rows
    (round-2 verdict 'What's wrong' #2)."""
    import dataclasses
    import os

    # one bucket per round: round 2's revisit partition (ts2+period) and
    # round 3's (ts3+period) are DIFFERENT buckets, so round 3 must carry
    # round 2's revisit partition over untouched. A tiny salt target makes
    # every round with a backlog write host salts (the schedule is
    # salt-invariant), so their retention is checked below.
    cfg = dataclasses.replace(
        test_config, frontier_part_rounds=1, salt_group_target=1
    )
    root = str(tmp_path_factory.mktemp("fparts"))
    job, seeds, store = _mk_job(spark, tiny_web, cfg, root)
    job.run(seeds, 2)
    map2 = store.frontier_map(2)
    assert map2, "partitioned layout must be active"

    def snapshot(fparts):
        out = {}
        for v, ver in fparts.items():
            d = os.path.join(store._frontier_round_dir(ver), f"fpart={v}")
            for dp, _dn, fns in os.walk(d):
                for fn in fns:
                    p = os.path.join(dp, fn)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(map2)
    job.run(seeds, 3)
    map3 = store.frontier_map(3)
    # with period >> interval, the revisit partitions from round 2 are far
    # in the future and round 3's revisits land in a different bucket →
    # some partitions must be carried over untouched
    carried = {v: ver for v, ver in map3.items() if ver < 3}
    assert carried, f"expected untouched partitions, map={map3}"
    after = snapshot(carried)
    for path, meta in after.items():
        assert before.get(path) == meta, f"rewritten: {path}"
    # and the round DID write something (touched partitions exist)
    assert any(ver == 3 for ver in map3.values())

    # every directory under the root is one the live commit or the
    # retained one names: their frontier versions, probe states and host
    # salts; every committed seen delta; one bucketed table; the
    # append-only round tables. Round 3 is the first with host salts, so
    # two more rounds move it out of the window.
    def listed(*parts):
        return sorted(os.listdir(os.path.join(root, *parts)))

    assert listed("host_salts") == ["round=3"]
    job.run(seeds, 5)
    assert listed() == sorted([
        "manifest.json", "frontier_rounds", "bloom", "seen_delta",
        "seen_bucketed", "robots_delta", "fetched", "links", "metrics",
        "host_salts",
    ])
    assert listed("bloom") == ["round=4", "round=5"]
    assert set(listed("host_salts")) <= {"round=4", "round=5"}
    assert listed("seen_delta") == [f"round={r}" for r in range(6)]
    on_disk = {
        (int(rd.split("=")[1]), int(pd.split("=")[1]))
        for rd in listed("frontier_rounds")
        for pd in listed("frontier_rounds", rd) if pd.startswith("fpart=")
    }
    assert on_disk == {
        (ver, v) for r in (4, 5) for v, ver in store.frontier_map(r).items()
    }


def test_seen_bucketed_survives_catalog_loss(
    spark, tiny_web, test_config, tmp_path_factory
):
    """ADVICE (round 3, high): the bucketed-seen table is registered via
    saveAsTable in the SESSION's in-memory catalog. A resume in a brand-new
    Spark process finds the files and a current marker but an empty catalog;
    read_seen_bucketed must re-register the external bucketed table (same
    bucket spec) instead of raising TABLE_OR_VIEW_NOT_FOUND. Simulated here
    by dropping the catalog entry (external table → files survive), which is
    exactly the state a fresh process starts in."""
    root = str(tmp_path_factory.mktemp("cat_loss"))
    job, seeds, store = _mk_job(spark, tiny_web, test_config, root)
    job.run(seeds, 2)
    before = {
        r["url_canon"]
        for r in store.read_seen_bucketed(2, test_config).collect()
    }
    assert before == {
        r["url_canon"] for r in store.read_seen(2).collect()
    }

    # simulate process restart: catalog entry gone, files + marker intact
    spark.sql(f"DROP TABLE {store._seen_bkt_name}")
    import os

    assert os.path.isdir(store._seen_bkt_path)
    store2 = StateStore(root, spark)
    after = {
        r["url_canon"]
        for r in store2.read_seen_bucketed(2, test_config).collect()
    }
    assert after == before

    # the re-registered table must keep the writer's bucket spec — otherwise
    # the bucket-local anti-join silently degrades to a shuffled join
    desc = spark.sql(
        f"DESCRIBE TABLE EXTENDED {store._seen_bkt_name}"
    ).collect()
    kv = {r["col_name"]: r["data_type"] for r in desc}
    assert kv.get("Num Buckets") == str(test_config.seen_buckets)
    assert "url_canon" in kv.get("Bucket Columns", "")

    # and a further round over the re-registered table appends cleanly
    job2, seeds2, store3 = _mk_job(spark, tiny_web, test_config, root)
    job2.run(seeds2, N_ROUNDS)
    final = {
        r["url_canon"]
        for r in store3.read_seen_bucketed(N_ROUNDS, test_config).collect()
    }
    assert final == {
        r["url_canon"] for r in store3.read_seen(N_ROUNDS).collect()
    }

    # a resume under a different bucket count rewrites the bucketed table
    # at the new count (a fresh generation) and the crawl still matches
    # the oracle
    import dataclasses

    from aspseek_spark.oracle.model_crawler import crawl, load_fixture_dicts

    cfg4 = dataclasses.replace(test_config, seen_buckets=4)
    job4, seeds4, store4 = _mk_job(spark, tiny_web, cfg4, root)
    job4.run(seeds4, N_ROUNDS + 1)
    desc = spark.sql(
        f"DESCRIBE TABLE EXTENDED {store4._seen_bkt_name}"
    ).collect()
    assert {r["col_name"]: r["data_type"] for r in desc}["Num Buckets"] == "4"
    seen4 = {r["url_canon"] for r in store4.read_seen(N_ROUNDS + 1).collect()}
    assert seen4 == {
        r["url_canon"]
        for r in store4.read_seen_bucketed(N_ROUNDS + 1, cfg4).collect()
    }
    ora = crawl(*load_fixture_dicts(tiny_web), cfg4, N_ROUNDS + 1)
    assert seen4 == ora.seen
    assert sorted(
        tuple(r) for r in store4.read_fetched(N_ROUNDS + 1).select(
            "round", "sched_unix", "host", "url_canon", "status"
        ).collect()
    ) == sorted(
        (f.round, f.sched_unix, f.host, f.url_canon, f.status)
        for f in ora.fetches
    )


def test_tag_subset_filter(spark, tiny_web, test_config, tmp_path_factory):
    """F9 (index -t): a crawl restricted to a different tag fetches nothing;
    restricted to its own tag it behaves exactly like an unfiltered crawl."""
    import dataclasses

    cfg_same = dataclasses.replace(test_config, tag=5, tag_filter=5)
    job_s, seeds_s, store_s = None, None, None
    job, seeds, store = _mk_job(
        spark, tiny_web, cfg_same, str(tmp_path_factory.mktemp("tag_same"))
    )
    m = job.run(seeds, 1)
    assert m[0]["urls_scheduled"] > 0

    cfg_other = dataclasses.replace(test_config, tag=5, tag_filter=7)
    job2, seeds2, store2 = _mk_job(
        spark, tiny_web, cfg_other, str(tmp_path_factory.mktemp("tag_other"))
    )
    m2 = job2.run(seeds2, 1)
    assert m2[0]["urls_scheduled"] == 0
    # the other-tag rows stayed in the frontier untouched
    assert store2.read_frontier(1).count() == store2.read_frontier(0).count()


def test_streaming_face_matches_plain_loop(
    spark, tiny_web, test_config, tmp_path_factory, reference_run
):
    """The Structured-Streaming foreachBatch face commits the same rounds
    with identical results (SURVEY.md §2.10)."""
    root = str(tmp_path_factory.mktemp("stream"))
    job, seeds, store = _mk_job(spark, tiny_web, test_config, root)
    job.run_streaming(seeds, N_ROUNDS)
    assert store.last_committed_round() == N_ROUNDS
    assert _fetch_seq(reference_run) == _fetch_seq(store)
