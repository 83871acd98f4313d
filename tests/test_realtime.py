"""Realtime search tier (round-4 verdict "What's missing" #1 / next-round
#3): a just-crawled round is searchable IMMEDIATELY as an overlay segment —
no main-index rewrite — with newest-wins semantics on doc collisions, and
``merge_realtime`` absorbs the segments into the next main generation with
IDENTICAL query results before and after (the reference's realtime
urlwordNN tables merged into posting files by the periodic index pass)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aspseek_spark.plans.search_job import SearchJob

SCHEMA = (
    "round int, url_canon string, url_hash64 long, host string, "
    "depth int, status int, text string"
)


def _base_rows():
    return [
        (1, f"http://h{i % 3}.test/p{i}", i, f"h{i % 3}.test", 1, 200,
         f"spark data filler{i} crawl")
        for i in range(30)
    ]


def _docs(df, col="doc"):
    return {r[col] for r in df.collect()}


@pytest.fixture()
def rt_job(spark, tmp_path_factory):
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_idx")), n_buckets=8
    )
    job.build_from_fetched(spark.createDataFrame(_base_rows(), SCHEMA))
    return job


def test_realtime_doc_searchable_before_any_merge(rt_job, spark):
    delta = spark.createDataFrame(
        [(2, "http://h9.test/new", 900, "h9.test", 1, 200,
          "freshword spark only")],
        SCHEMA,
    )
    rt_job.add_realtime(delta)
    assert 900 in _docs(rt_job.search_and(["freshword"]))
    # it participates in multi-term queries with main-index docs
    both = _docs(rt_job.search_and(["spark"]))
    assert 900 in both and 0 in both
    # and in the zone-ranked family (overlay over the zone index)
    assert 900 in _docs(rt_job.search_zone_ranked(["freshword"]))
    # and the query-language face (meta overlay: site:)
    assert 900 in _docs(
        rt_job.search_query("freshword & site:h9.test"), col="doc"
    )
    # excerpts serve the realtime doc's stored text
    ex = {
        r["doc"]: r["excerpt"]
        for r in rt_job.excerpts_for_page(["freshword"], [900]).collect()
    }
    assert ex[900].startswith("freshword spark")


def test_realtime_newest_wins_over_main_and_older_segments(rt_job, spark):
    # segment 1 revisits doc 0 (drops 'filler0', gains 'rev1')
    rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h0.test/p0", 0, "h0.test", 1, 200, "rev1 spark")],
        SCHEMA,
    ))
    assert 0 in _docs(rt_job.search_and(["rev1"]))
    assert 0 not in _docs(rt_job.search_and(["filler0"])), "stale main rows"
    # segment 2 revisits doc 0 again (drops 'rev1', gains 'rev2')
    rt_job.add_realtime(spark.createDataFrame(
        [(3, "http://h0.test/p0", 0, "h0.test", 1, 200, "rev2 spark")],
        SCHEMA,
    ))
    assert 0 in _docs(rt_job.search_and(["rev2"]))
    assert 0 not in _docs(rt_job.search_and(["rev1"])), "stale older segment"
    # scores come from the newest body only (no double counting of 'spark')
    scores = {
        r["doc"]: r["score"] for r in rt_job.search_and(["spark"]).collect()
    }
    assert scores[0] == 1


def test_realtime_delete_hides_doc(rt_job, spark):
    rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h1.test/p1", 1, "h1.test", 1, 404, None)],
        SCHEMA,
    ))
    assert 1 not in _docs(rt_job.search_and(["filler1"]))
    assert 1 not in _docs(rt_job.search_query("filler1 | spark"))
    # other docs unaffected
    assert 2 in _docs(rt_job.search_and(["filler2"]))


def test_merge_realtime_absorbs_with_identical_results(rt_job, spark):
    rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h9.test/new", 900, "h9.test", 1, 200,
          "freshword spark only"),
         (2, "http://h0.test/p0", 0, "h0.test", 1, 200, "rev1 spark")],
        SCHEMA,
    ))
    rt_job.add_realtime(spark.createDataFrame(
        [(3, "http://h1.test/p1", 1, "h1.test", 1, 404, None)],
        SCHEMA,
    ))
    queries = [
        ("and", ["spark"]), ("and", ["freshword"]), ("and", ["rev1"]),
        ("and", ["filler0"]), ("and", ["filler1"]), ("any", ["spark", "rev1"]),
    ]
    pre = {
        (fam, tuple(t)): {
            (r["doc"], r["score"])
            for r in getattr(rt_job, f"search_{fam}")(t).collect()
        }
        for fam, t in queries
    }
    pre_zone = [
        (r["doc"], r["score"])
        for r in rt_job.search_zone_ranked(["spark", "rev1"], k=40).collect()
    ]
    rt_job.merge_realtime()
    assert rt_job._manifest()["segments"] == []
    # absorbed dirs are RETAINED one absorb cycle for in-flight readers
    # (round-6 retention contract), listed for the next absorb's sweep —
    # but no longer served (the manifest's segment list is empty)
    assert set(rt_job._manifest()["retained"]["segments"]) == {0, 1}
    rt_job.merge_realtime()  # no segments: just sweeps the retained dirs
    assert not os.path.isdir(
        os.path.join(rt_job.rt_dir, "seg_0")
    ), "retained segments must be swept by the next absorb"
    for (fam, t), want in pre.items():
        got = {
            (r["doc"], r["score"])
            for r in getattr(rt_job, f"search_{fam}")(list(t)).collect()
        }
        assert got == want, (fam, t)
    post_zone = [
        (r["doc"], r["score"])
        for r in rt_job.search_zone_ranked(["spark", "rev1"], k=40).collect()
    ]
    assert post_zone == pre_zone
    # the stored-text table followed: deleted doc gone, revisit replaced
    meta = spark.read.parquet(rt_job.meta_path)
    assert meta.filter(F.col("doc_id") == 1).count() == 0
    assert (
        meta.filter(F.col("doc_id") == 0).select("text").collect()[0][0]
        == "rev1 spark"
    )


def test_absorb_tokenizes_nothing_and_segments_keep_no_raw_rows(
    rt_job, spark, monkeypatch
):
    """A segment stores its index tables and no copy of the raw fetched
    rows, and merge_realtime writes those tables into the main generation
    without calling any tokenizer — replies are identical after it."""
    import aspseek_spark.operators.postings as postings_mod
    import aspseek_spark.plans.search_job as search_job_mod

    rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h9.test/new", 900, "h9.test", 1, 200,
          "freshword spark only"),
         (2, "http://h0.test/p0", 0, "h0.test", 1, 200, "rev1 spark")],
        SCHEMA,
    ))
    rt_job.add_realtime(spark.createDataFrame(
        [(3, "http://h1.test/p1", 1, "h1.test", 1, 404, None)], SCHEMA
    ))
    for k in rt_job._manifest()["segments"]:
        assert sorted(os.listdir(rt_job._seg_path(k))) == [
            "docs_meta", "gone", "postings", "zone"
        ]
    queries = [
        "spark", "freshword | rev1", "filler0 | filler1", "site:h9.test"
    ]

    def replies():
        return {
            q: sorted(
                (r["doc"], r["score"])
                for r in rt_job.search_query(q).collect()
            )
            for q in queries
        }

    def tokenizer_called(*args, **kwargs):
        raise AssertionError("the absorb re-tokenized documents")

    pre = replies()
    with monkeypatch.context() as m:
        m.setattr(search_job_mod, "build_postings", tokenizer_called)
        m.setattr(search_job_mod, "build_zone_postings", tokenizer_called)
        m.setattr(search_job_mod, "write_index_bucketed", tokenizer_called)
        m.setattr(postings_mod, "tokens_col", tokenizer_called)
        rt_job.merge_realtime()
    assert rt_job._manifest()["segments"] == []
    assert replies() == pre


def test_merges_keep_one_row_per_doc_word(spark, tmp_path_factory):
    """Every stored postings and zone table holds one row per (doc, word)
    — the invariant docs_with_all and word_doc_freq(unique_doc_word=) rely
    on — after merge_delta and after absorbing two segments that revisit
    a doc in both, 404 a doc in the newer one and re-add a doc deleted
    earlier. The absorbed generation equals a fresh build over the same
    fetched history."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_unique")), n_buckets=8,
        rt_max_segments=None,
    )
    history = list(_base_rows())

    def delta(rows):
        history.extend(rows)
        return spark.createDataFrame(rows, SCHEMA)

    def assert_unique(path):
        rows = spark.read.parquet(path)
        assert rows.count() > 0
        dup = rows.groupBy("doc", "word").count().filter("count > 1")
        assert dup.count() == 0, path

    job.build_from_fetched(spark.createDataFrame(_base_rows(), SCHEMA))
    job.merge_delta(delta([
        (2, "http://h0.test/p0", 0, "h0.test", 1, 200, "spark spark merged"),
        (2, "http://h1.test/p1", 1, "h1.test", 1, 404, None),
    ]))
    assert_unique(job.index_path)
    assert_unique(job.zone_path)
    job.add_realtime(delta([
        (3, "http://h2.test/p2", 2, "h2.test", 1, 200, "rev1 spark data"),
        (3, "http://h1.test/p1", 1, "h1.test", 1, 200, "back again spark"),
        (3, "http://h1.test/p4", 4, "h1.test", 1, 200, "doomed spark"),
    ]))
    job.add_realtime(delta([
        (4, "http://h2.test/p2", 2, "h2.test", 1, 200, "rev2 spark spark"),
        (4, "http://h1.test/p4", 4, "h1.test", 1, 404, None),
    ]))
    job.merge_realtime()
    assert_unique(job.index_path)
    assert_unique(job.zone_path)

    fresh = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_unique_fresh")), n_buckets=8
    )
    fresh.build_from_fetched(spark.createDataFrame(history, SCHEMA))

    def rows(path):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(path).collect()
        )

    for attr in ("index_path", "zone_path", "meta_path"):
        assert rows(getattr(job, attr)) == rows(getattr(fresh, attr)), attr
    tf = {
        r["word"]: r["tf"]
        for r in spark.read.parquet(job.index_path)
        .filter(F.col("doc") == 2).collect()
    }
    assert tf == {"rev2": 1, "spark": 2}
    assert 4 not in _docs(job.search_and(["doomed"]))
    assert _docs(job.search_and(["back"])) == {1}


def test_realtime_only_serving_then_merge_builds_main(spark, tmp_path_factory):
    """No main build ever ran: realtime segments alone serve queries, and
    merge_realtime turns them into the initial main generation."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_only")), n_buckets=8
    )
    job.add_realtime(spark.createDataFrame(
        [(1, "http://h0.test/a", 10, "h0.test", 1, 200, "alpha beta")],
        SCHEMA,
    ))
    assert 10 in _docs(job.search_and(["alpha"]))
    assert 10 in _docs(job.search_zone_ranked(["alpha"]))
    job.merge_realtime()
    assert job._manifest()["segments"] == []
    assert job.index_path.endswith("postings_v0")
    assert 10 in _docs(job.search_and(["alpha"]))


def test_realtime_append_moves_qcache_epoch(rt_job, spark):
    before = rt_job.search_cached("and", ["spark"])
    rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h9.test/new", 901, "h9.test", 1, 200, "spark extra")],
        SCHEMA,
    ))
    after = rt_job.search_cached("and", ["spark"])
    assert after is not before, "realtime append must invalidate the qcache"
    assert 901 in _docs(after)
    assert not before.storageLevel.useMemory


def test_crawl_rounds_feed_realtime_search(
    spark, tiny_web, test_config, tmp_path_factory
):
    """The crawl-then-search cycle the reference serves with its realtime
    tables: after each committed crawl round, that round's fetched delta is
    appended to the realtime tier and its pages are searchable BEFORE any
    index merge; absorbing the segments equals a fresh full build over the
    same fetched history (same doc sets, scores, zone ranking)."""
    from aspseek_spark.plans.crawl_loop import CrawlJob
    from aspseek_spark.sources.tables import StateStore

    store = StateStore(str(tmp_path_factory.mktemp("rtcrawl_state")), spark)
    sj = SearchJob(
        spark, str(tmp_path_factory.mktemp("rtcrawl_idx")), n_buckets=8
    )
    # the one-wiring-point integration: CrawlJob appends every committed
    # round's fetched delta to the realtime tier itself
    job = CrawlJob(
        spark, store, test_config,
        spark.read.parquet(f"{tiny_web}/pages.parquet"),
        spark.read.parquet(f"{tiny_web}/robots_src.parquet"),
        realtime_index=sj,
    )
    job.ensure_init(spark.read.parquet(f"{tiny_web}/seeds.parquet"))
    for r in (1, 2):
        job.run_one(r)
    assert sorted(sj._manifest()["segments"]) == [0, 1]
    terms = ["engine", "crawler"]
    pre = {
        (r["doc"], r["score"]) for r in sj.search_any(terms).collect()
    }
    assert pre, "crawled pages must be searchable before any merge"
    pre_zone = [
        (r["doc"], r["score"])
        for r in sj.search_zone_ranked(["search", "page"], k=20).collect()
    ]
    sj.merge_realtime()
    post = {
        (r["doc"], r["score"]) for r in sj.search_any(terms).collect()
    }
    assert post == pre
    fresh = SearchJob(
        spark, str(tmp_path_factory.mktemp("rtcrawl_fresh")), n_buckets=8
    )
    fresh.build_from_fetched(store.read_fetched(2))
    assert {
        (r["doc"], r["score"]) for r in fresh.search_any(terms).collect()
    } == post
    assert [
        (r["doc"], r["score"])
        for r in fresh.search_zone_ranked(["search", "page"], k=20).collect()
    ] == pre_zone


def test_overlay_probe_still_prunes_and_broadcasts(rt_job, spark):
    """Plan shape with a live segment: the MAIN probe scan still
    partition-prunes to the terms' word buckets, and the newest-wins mask
    is a broadcast left-anti join (segment deltas are round-sized — never
    a shuffled join against the main index)."""
    import io
    from contextlib import redirect_stdout

    rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h9.test/new", 900, "h9.test", 1, 200, "spark fresh")],
        SCHEMA,
    ))
    probe = rt_job.probe(["spark"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "word_bucket" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rt_max_segments_auto_merge(spark, tmp_path_factory):
    """The reference's periodic merge pass: once the unmerged segment
    count exceeds rt_max_segments, the next append absorbs them — probe
    fan-out stays bounded and results are unchanged."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_auto")), n_buckets=8,
        rt_max_segments=2,
    )
    job.build_from_fetched(spark.createDataFrame(_base_rows(), SCHEMA))
    for i in range(3):
        job.add_realtime(spark.createDataFrame(
            [(2 + i, f"http://h9.test/n{i}", 900 + i, "h9.test", 1, 200,
              f"autoword{i} spark")],
            SCHEMA,
        ))
    # third append exceeded the cap → everything absorbed into main
    assert job._manifest()["segments"] == []
    for i in range(3):
        assert 900 + i in _docs(job.search_and([f"autoword{i}"]))
    assert 0 in _docs(job.search_and(["filler0"]))


def test_lifecycle_random_ops_match_dict_model(spark, tmp_path_factory):
    """Model-based check of the whole index lifecycle: a random interleave
    of realtime appends, LSM merges and realtime absorbs — with new docs,
    revisits and 404 deletes — must always agree with a plain doc→text
    dict model on (doc, score) for probed words AND on stored text.
    Deterministic seed: the same 10-op schedule every run."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260817)
    vocab = ["spark", "data", "index", "crawl", "merge", "query", "host"]

    def text_for() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))

    def rows_for(round_no: int, updates: dict[int, str | None]):
        out = []
        for doc, text in updates.items():
            status = 404 if text is None else 200
            out.append((round_no, f"http://h{doc % 3}.test/p{doc}", doc,
                        f"h{doc % 3}.test", 1, status, text))
        return spark.createDataFrame(out, SCHEMA)

    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("model_idx")), n_buckets=8,
        rt_max_segments=None,  # the schedule drives merges explicitly
    )
    model: dict[int, str] = {i: text_for() for i in range(12)}
    job.build_from_fetched(rows_for(1, dict(model)))
    next_doc = 12

    def random_updates() -> dict[int, str | None]:
        ups: dict[int, str | None] = {}
        for _ in range(rng.randint(1, 4)):
            kind = rng.random()
            live = sorted(model)
            if kind < 0.4 or not live:  # brand-new doc
                nonlocal next_doc
                ups[next_doc] = text_for()
                next_doc += 1
            elif kind < 0.75:  # revisit with new text
                ups[rng.choice(live)] = text_for()
            else:  # delete
                ups[rng.choice(live)] = None
        return ups

    def apply_to_model(ups: dict[int, str | None]) -> None:
        for doc, text in ups.items():
            if text is None:
                model.pop(doc, None)
            else:
                model[doc] = text

    def verify(tag: str) -> None:
        for w in rng.sample(vocab, 3):
            got = {
                (r["doc"], r["score"])
                for r in job.search_and([w]).collect()
            }
            want = {
                (doc, text.split().count(w))
                for doc, text in model.items()
                if w in text.split()
            }
            assert got == want, (tag, w)
        meta = {
            r["doc_id"]: r["text"] for r in job._meta_df().collect()
        }
        assert meta == model, tag

    for round_no in range(2, 12):
        ups = random_updates()
        op = rng.random()
        if op < 0.5:
            job.add_realtime(rows_for(round_no, ups))
        elif op < 0.8:
            # merging while unmerged segments exist is allowed only if the
            # delta does not touch docs a segment still overlays (the
            # overlay would win); absorb first to keep semantics exact
            job.merge_realtime()
            job.merge_delta(rows_for(round_no, ups))
        else:
            job.add_realtime(rows_for(round_no, ups))
            apply_to_model(ups)
            verify(f"round{round_no}-pre-absorb")
            job.merge_realtime()
            verify(f"round{round_no}-post-absorb")
            continue
        apply_to_model(ups)
        verify(f"round{round_no}")
    job.merge_realtime()
    verify("final-absorb")


def test_realtime_crash_before_commit_is_invisible(rt_job, spark):
    """An uncommitted (crashed) segment directory is ignored by queries and
    clobbered by the retry — the manifest is the commit point."""
    import shutil

    seg0 = rt_job._seg_path(0)
    os.makedirs(seg0, exist_ok=True)
    with open(os.path.join(seg0, "junk"), "w") as f:
        f.write("partial write")
    assert rt_job._manifest()["segments"] == []
    assert 0 in _docs(rt_job.search_and(["filler0"]))  # serving unaffected
    # retry lands in seg_0 again (clobbering) and commits
    k = rt_job.add_realtime(spark.createDataFrame(
        [(2, "http://h9.test/new", 902, "h9.test", 1, 200, "crashproof")],
        SCHEMA,
    ))
    assert k == 0 and rt_job._manifest()["segments"] == [0]
    assert not os.path.exists(os.path.join(seg0, "junk"))
    assert 902 in _docs(rt_job.search_and(["crashproof"]))
    shutil.rmtree(rt_job.root, ignore_errors=True)


def test_absorb_applies_delete_pass_without_main_index(spark, tmp_path_factory):
    """Round-5 ADVICE high: realtime-ONLY serving (no main build), a doc
    fetched 200 in an early segment and 404 in a later one. Pre-absorb the
    overlay hides it; the absorb falls back to build_from_fetched, which
    must apply the same delete pass — the doc must NOT resurrect from its
    stale 200 body."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_del")), n_buckets=8
    )
    job.add_realtime(spark.createDataFrame(
        [(1, "http://h.test/gone", 7, "h.test", 1, 200, "zombie spark"),
         (1, "http://h.test/keep", 8, "h.test", 1, 200, "keeper spark")],
        SCHEMA,
    ))
    job.add_realtime(spark.createDataFrame(
        [(2, "http://h.test/gone", 7, "h.test", 1, 404, None)], SCHEMA
    ))
    pre = _docs(job.search_and(["spark"]))
    assert pre == {8}, "overlay must hide the 404'd doc pre-absorb"
    job.merge_realtime()
    assert job._manifest()["segments"] == []
    post = _docs(job.search_and(["spark"]))
    assert post == pre, "absorb resurrected a deleted doc"
    assert _docs(job.search_and(["zombie"])) == set()
    # zone + meta sides follow too
    assert 7 not in _docs(job.search_zone_ranked(["zombie"]))
    assert 7 not in {
        r["doc_id"] for r in job._meta_df().collect()
    }


def test_build_from_fetched_applies_delete_pass(spark, tmp_path_factory):
    """Direct multi-round initial build: latest row 404 ⇒ never indexed."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("bld_del")), n_buckets=8
    )
    job.build_from_fetched(spark.createDataFrame(
        [(1, "http://h.test/a", 1, "h.test", 1, 200, "alpha body"),
         (3, "http://h.test/a", 1, "h.test", 1, 404, None),
         (2, "http://h.test/b", 2, "h.test", 1, 200, "beta body")],
        SCHEMA,
    ))
    assert _docs(job.search_and(["body"])) == {2}
    assert _docs(job.search_and(["alpha"])) == set()


def _fresh_delta(spark, round_no=2):
    return spark.createDataFrame(
        [(round_no, "http://h9.test/new", 900, "h9.test", 1, 200,
          "freshword spark only")],
        SCHEMA,
    )


def _gen_and_seg_dirs(job):
    gens = {d for d in os.listdir(job.root) if "_v" in d}
    segs = set(os.listdir(job.rt_dir)) if os.path.isdir(job.rt_dir) else set()
    return gens | {f"realtime/{s}" for s in segs}


@pytest.mark.parametrize("mutation", ["append", "absorb", "merge_delta"])
def test_crash_between_segment_write_and_commit(
    mutation, spark, tmp_path_factory, monkeypatch
):
    """Round-5 verdict next-round #8, crash injection on the manifest
    protocol: a mutation that dies AFTER writing its directories but AT the
    manifest publish leaves the manifest and every reply unchanged — the
    directories it wrote are unnamed, so no reader sees them — and the
    retry succeeds (an append reuses the never-committed id) and serves
    exactly the committed state. Every mutation commits with exactly one
    os.replace: the manifest's."""
    import aspseek_spark.plans.search_job as search_job_mod

    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_crash")), n_buckets=8,
        rt_max_segments=None,
    )
    real_replace = os.replace

    def one_commit(fn):
        """``fn()``, asserting it made exactly one os.replace: the
        manifest's."""
        replaced = []

        def counting_replace(src, dst):
            replaced.append(dst)
            real_replace(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "replace", counting_replace)
            out = fn()
        assert replaced == [os.path.join(job.root, "manifest.json")]
        return out

    one_commit(lambda: job.build_from_fetched(
        spark.createDataFrame(_base_rows(), SCHEMA)
    ))
    delta = _fresh_delta(spark)
    if mutation == "absorb":
        one_commit(lambda: job.add_realtime(delta))  # what it folds in
    run = {
        "append": lambda: job.add_realtime(delta),
        "absorb": job.merge_realtime,
        "merge_delta": lambda: job.merge_delta(delta),
    }[mutation]

    def replies():
        return {
            q: sorted(
                (r["doc"], r["score"])
                for r in job.search_query(q).collect()
            )
            for q in ("spark", "freshword")
        }

    manifest, pre = job._manifest(), replies()

    def boom(path, doc):
        raise RuntimeError("injected crash at the manifest publish")

    with monkeypatch.context() as m:
        m.setattr(search_job_mod, "publish_manifest", boom)
        with pytest.raises(RuntimeError, match="injected"):
            run()
    # the attempt's directories exist, but no reader sees them
    written = job._seg_path(0) if mutation == "append" else os.path.join(
        job.root, "postings_v1"
    )
    assert os.path.isdir(written)
    assert job._manifest() == manifest
    assert replies() == pre

    k = one_commit(run)
    if mutation == "append":
        assert k == 0 and job._manifest()["segments"] == [0]
    else:
        assert job._manifest()["version"] == 1
    # oracle: main docs + the one committed delta
    assert _docs(job.search_and(["freshword"])) == {900}
    assert _docs(job.search_and(["spark"])) == {i for i in range(30)} | {900}


def test_crash_between_manifest_publish_and_sweep(
    spark, tmp_path_factory, monkeypatch
):
    """A process that dies after a flip's manifest publish but before its
    sweep leaves the released directories on disk, unnamed; replies follow
    the new manifest, and the next mutation sweeps them."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_sweep")), n_buckets=8,
        rt_max_segments=None,
    )
    job.build_from_fetched(spark.createDataFrame(_base_rows(), SCHEMA))
    job.add_realtime(_fresh_delta(spark))
    job.merge_realtime()  # v1 live; v0 and seg_0 retained
    released = {"postings_v0", "zone_postings_v0", "docs_meta_v0",
                "realtime/seg_0"}
    assert released <= _gen_and_seg_dirs(job)

    sweeps = []
    real_sweep = job._sweep

    def sweep_then_die(doc):
        if sweeps:  # the mutation's second sweep: the one after publish
            raise RuntimeError("injected crash before the sweep")
        sweeps.append(doc)
        real_sweep(doc)

    monkeypatch.setattr(job, "_sweep", sweep_then_die)
    gone = spark.createDataFrame(
        [(3, "http://h1.test/p1", 1, "h1.test", 1, 404, None)], SCHEMA
    )
    with pytest.raises(RuntimeError, match="injected"):
        job.merge_delta(gone)
    monkeypatch.undo()
    assert job._manifest()["version"] == 2
    assert released <= _gen_and_seg_dirs(job)
    assert _docs(job.search_and(["spark"])) == (
        {i for i in range(30)} - {1}
    ) | {900}

    job.merge_delta(spark.createDataFrame(
        [(4, "http://h9.test/n1", 901, "h9.test", 1, 200, "swept spark")],
        SCHEMA,
    ))
    # v3 live, v2 retained; v1 released by this flip, v0 and seg_0 swept
    assert _gen_and_seg_dirs(job) == {
        f"{t}_v{v}" for t in ("postings", "zone_postings", "docs_meta")
        for v in (2, 3)
    }
    assert _docs(job.search_and(["swept"])) == {901}


def test_query_reads_one_manifest_snapshot(rt_job, spark, monkeypatch):
    """A query resolves the manifest ONCE: an absorb that commits between
    its main-index probe and its segment overlay must not tear the reply
    (the old main generation with the segment list already cleared would
    lose doc 900, which only the segment holds). Checked for a plain AND
    and for a query-language reply that also reads the meta overlay."""
    import aspseek_spark.plans.search_job as search_job_mod

    real_probe = search_job_mod.probe_postings_bucketed
    asks = [
        lambda: rt_job.search_and(["spark"]),
        lambda: rt_job.search_query("freshword & site:h9.test"),
    ]
    for i, ask in enumerate(asks):
        rt_job.add_realtime(_fresh_delta(spark, round_no=2 + i))
        want = sorted(tuple(r) for r in ask().collect())
        assert 900 in {r[0] for r in want}
        absorbed = []

        def probe_then_absorb(*args, **kwargs):
            if not absorbed:
                absorbed.append(True)
                rt_job.merge_realtime()
            return real_probe(*args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(
                search_job_mod, "probe_postings_bucketed", probe_then_absorb
            )
            got = sorted(tuple(r) for r in ask().collect())
        assert absorbed
        assert got == want
        assert rt_job._manifest()["segments"] == []


def test_deferred_absorb_and_segment_retention(spark, tmp_path_factory):
    """Round-5 verdict next-round #3: with defer_merge=True the append
    never absorbs inline — needs_absorb() tells the caller; absorbed
    segment directories are retained one absorb cycle for in-flight
    readers (deleted by the NEXT absorb), and segment ids are never reused
    while retained."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("rt_defer")), n_buckets=8,
        rt_max_segments=1,
    )
    job.build_from_fetched(spark.createDataFrame(_base_rows(), SCHEMA))

    def delta(i):
        return spark.createDataFrame(
            [(2 + i, f"http://hx.test/n{i}", 1000 + i, "hx.test", 1, 200,
              f"deferword{i} spark")],
            SCHEMA,
        )

    assert job.add_realtime(delta(0), defer_merge=True) == 0
    assert job.add_realtime(delta(1), defer_merge=True) == 1
    # over the rt_max_segments=1 policy, but NOT absorbed (deferred)
    assert job.needs_absorb() and job._manifest()["segments"] == [0, 1]

    pre = _docs(job.search_and(["spark"]))
    job.merge_realtime()
    assert job._manifest()["segments"] == [] and not job.needs_absorb()
    assert _docs(job.search_and(["spark"])) == pre
    # absorbed dirs RETAINED for in-flight readers, listed for gc
    assert job._manifest()["retained"]["segments"] == [0, 1]
    assert os.path.isdir(job._seg_path(0)) and os.path.isdir(job._seg_path(1))

    # ids of retained segments are not reused by the next append
    assert job.add_realtime(delta(2), defer_merge=True) == 2
    # the NEXT absorb sweeps the retained dirs
    job.merge_realtime()
    assert not os.path.isdir(job._seg_path(0))
    assert not os.path.isdir(job._seg_path(1))
    assert job._manifest()["retained"]["segments"] == [2]
    assert _docs(job.search_and(["deferword2"])) == {1002}


def test_crawl_background_absorb(spark, tiny_web, test_config,
                                 tmp_path_factory):
    """CrawlJob runs the absorb on its background thread (defer_merge) —
    after run(), the deferred absorb has been drained (join_realtime) and
    results equal a fresh build over the same fetched history."""
    from aspseek_spark.plans.crawl_loop import CrawlJob
    from aspseek_spark.sources.tables import StateStore

    store = StateStore(str(tmp_path_factory.mktemp("rtbg_state")), spark)
    sj = SearchJob(
        spark, str(tmp_path_factory.mktemp("rtbg_idx")), n_buckets=8,
        rt_max_segments=1,
    )
    job = CrawlJob(
        spark, store, test_config,
        spark.read.parquet(f"{tiny_web}/pages.parquet"),
        spark.read.parquet(f"{tiny_web}/robots_src.parquet"),
        realtime_index=sj,
    )
    absorbs = []
    merge_realtime = sj.merge_realtime
    sj.merge_realtime = lambda: absorbs.append(1) or merge_realtime()
    job.run(spark.read.parquet(f"{tiny_web}/seeds.parquet"), 3)
    # with rt_max_segments=1, rounds 1-3 triggered ≥1 background absorb
    assert absorbs, "absorb must have been submitted"
    assert len(sj._manifest()["segments"]) <= 2
    got = _docs(sj.search_and(["engine"]))
    # fresh full build over the same fetched history == served state
    fetched_all = None
    for r in (1, 2, 3):
        df = spark.read.parquet(store._p("fetched", r))
        fetched_all = df if fetched_all is None else fetched_all.unionByName(df)
    ref = SearchJob(
        spark, str(tmp_path_factory.mktemp("rtbg_ref")), n_buckets=8
    )
    ref.build_from_fetched(fetched_all)
    assert got == _docs(ref.search_and(["engine"]))


def test_failed_background_absorb_raises_on_next_submit(spark):
    """Round-6 verdict "wrong" #1 (exception-loss window): a FAILED
    background absorb leaves its segments in place, so needs_absorb()
    re-fires and the next round re-submits — the resubmission must SURFACE
    the stored failure instead of overwriting the failed future, and a
    still-RUNNING absorb must not be clobbered either."""
    import threading
    import time as _time

    from aspseek_spark.plans.crawl_loop import CrawlJob

    class BoomRT:
        def __init__(self):
            self.calls = 0

        def merge_realtime(self):
            self.calls += 1
            raise RuntimeError("absorb exploded")

    rt = BoomRT()
    job = CrawlJob(spark, None, None, None, None, realtime_index=rt)
    job._submit_absorb()
    # wait for the background failure to land in the future
    for _ in range(100):
        if job._rt_absorb_fut.done():
            break
        _time.sleep(0.05)
    assert job._rt_absorb_fut.done()
    # the NEXT submission (what the next round does) must raise the failure
    with pytest.raises(RuntimeError, match="absorb exploded"):
        job._submit_absorb()
    assert rt.calls == 1  # the failure surfaced BEFORE any re-submit

    class SlowRT:
        def __init__(self):
            self.calls = 0
            self.release = threading.Event()

        def merge_realtime(self):
            self.calls += 1
            self.release.wait(10)

    slow = SlowRT()
    job2 = CrawlJob(spark, None, None, None, None, realtime_index=slow)
    job2._submit_absorb()
    fut = job2._rt_absorb_fut
    job2._submit_absorb()  # in-flight absorb: must be a no-op, not a clobber
    assert job2._rt_absorb_fut is fut
    slow.release.set()
    job2.join_realtime()
    assert slow.calls == 1
