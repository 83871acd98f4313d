"""Job attribution and failure paths of one crawl round.

A round hands its concurrent work (the leftover checkpoint, the early
fetched/links writes, the snapshot table writes, the overlapped metric
counts) to CrawlJob's executor. These tests check that every Spark job of
a round runs in the caller's job group, and that a round which raises
surfaces the original error with no job of it still running and nothing
committed — and that re-running the round then matches a clean crawl.
Building a CrawlJob leaves the session's settings as it found them.
"""

from __future__ import annotations

import time

import pytest

from aspseek_spark.plans import crawl_round
from aspseek_spark.plans.crawl_loop import CrawlJob
from aspseek_spark.sources.tables import StateStore

N_ROUNDS = 2
COUNTS = (
    "urls_scheduled", "urls_fetched_ok", "new_urls", "frontier_size",
    "bloom_keys",
)


class Injected(Exception):
    pass


def _mk_job(spark, tiny_web, test_config, root):
    pages = spark.read.parquet(f"{tiny_web}/pages.parquet")
    robots_src = spark.read.parquet(f"{tiny_web}/robots_src.parquet")
    seeds = spark.read.parquet(f"{tiny_web}/seeds.parquet")
    store = StateStore(root, spark)
    return CrawlJob(spark, store, test_config, pages, robots_src), seeds, store


def _counts(metrics: list[dict]) -> list[dict]:
    return [{k: m[k] for k in COUNTS} for m in metrics]


def _settle(spark) -> None:
    """The status tracker is fed by the listener bus: wait until it has
    processed every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.fixture(scope="module")
def reference_counts(spark, tiny_web, test_config, tmp_path_factory):
    job, seeds, _ = _mk_job(
        spark, tiny_web, test_config, str(tmp_path_factory.mktemp("ref"))
    )
    return _counts(job.run(seeds, N_ROUNDS))


def test_round_jobs_stay_in_callers_job_group(
    spark, tiny_web, test_config, tmp_path_factory
):
    sc = spark.sparkContext
    job, seeds, _ = _mk_job(
        spark, tiny_web, test_config, str(tmp_path_factory.mktemp("group"))
    )
    job.ensure_init(seeds)
    _settle(spark)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("crawl-round-1", "one crawl round")
    try:
        job.run_one(1)
    finally:
        sc._jsc.clearJobGroup()
    _settle(spark)
    stray = set(tracker.getJobIdsForGroup(None)) - before
    assert not stray, f"round jobs escaped the caller's group: {stray}"
    assert tracker.getJobIdsForGroup("crawl-round-1")


def test_crawl_job_leaves_session_split_size_alone(
    spark, tiny_web, test_config, tmp_path_factory
):
    """Building a CrawlJob must not change session-wide scan settings:
    other work sharing the session (searchd probes, driver entries) would
    inherit them."""
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.unset(key)
    default = spark.conf.get(key)
    _mk_job(spark, tiny_web, test_config, str(tmp_path_factory.mktemp("conf")))
    assert spark.conf.get(key) == default


def _fail_then_recover(spark, job, seeds, store, failing_round, inject):
    """Commit the rounds before ``failing_round``, run it with ``inject``
    in place, check nothing of it runs or is committed, then finish the
    crawl without the injection and return every round's metrics."""
    if failing_round > 1:
        job.run(seeds, failing_round - 1)
    else:
        job.ensure_init(seeds)
    committed = store.last_committed_round()
    submit, submitted = job._submit, []

    def slow_submit(fn, *args):
        # every task starts late, so it is still running when the round's
        # error is raised unless the round waits for it
        def late():
            time.sleep(0.5)
            return fn(*args)

        fut = submit(late)
        submitted.append(fut)
        return fut

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(job, "_submit", slow_submit)
        inject(mp)
        with pytest.raises(Injected):
            job.run_one(failing_round)
        assert submitted and all(f.done() for f in submitted)
    _settle(spark)
    active = spark.sparkContext._jsc.statusTracker().getActiveJobIds()
    assert list(active) == []
    assert store.last_committed_round() == committed
    job.run(seeds, N_ROUNDS)
    return [
        r.asDict() for r in store.read_metrics(N_ROUNDS)
        .orderBy("round").collect()
    ]


def test_failed_snapshot_write_drains_and_commits_nothing(
    spark, tiny_web, test_config, tmp_path_factory, reference_counts
):
    job, seeds, store = _mk_job(
        spark, tiny_web, test_config, str(tmp_path_factory.mktemp("wfail"))
    )
    write_table = store.write_table

    def failing_write(name, round_id, df):
        if name == "bloom":
            raise Injected("bloom write failed")
        time.sleep(2)  # the other writes are still running when it fails
        write_table(name, round_id, df)

    metrics = _fail_then_recover(
        spark, job, seeds, store, 2,
        lambda mp: mp.setattr(store, "write_table", failing_write),
    )
    assert _counts(metrics) == reference_counts


def test_failed_parse_drains_leftover_and_commits_nothing(
    spark, tiny_web, test_config, tmp_path_factory, reference_counts
):
    job, seeds, store = _mk_job(
        spark, tiny_web, test_config, str(tmp_path_factory.mktemp("pfail"))
    )

    def failing_parse(raw, config):
        raise Injected("parse failed")

    # parse runs after the leftover checkpoint was submitted
    metrics = _fail_then_recover(
        spark, job, seeds, store, 1,
        lambda mp: mp.setattr(crawl_round, "parse_fetched", failing_parse),
    )
    assert _counts(metrics) == reference_counts
