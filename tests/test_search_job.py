"""SearchJob: every query family served from the STORED bucketed index
must return identical answers to the inline-tokenize computation over the
same documents, and query-time scans must partition-prune (round-2 verdict
next-step #5 'done' criteria)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from aspseek_spark.operators.postings import (
    build_postings,
    build_zone_postings,
    docs_with_all,
    docs_with_any,
    docs_without,
    expand_terms,
    phrase_match,
    proximity_match,
    rank_zone_weighted,
)
from aspseek_spark.plans.search_job import SearchJob

WORDS = ["spark", "data", "index", "crawl", "merge", "table", "rank"]


@pytest.fixture(scope="module")
def fetched_fixture(spark):
    """Synthetic crawl output in the fetched-table shape, including a
    revisit: url 0 appears in rounds 1 AND 2 with different text — the
    index must keep only round 2's body."""
    rows = []
    for i in range(120):
        text = " ".join(
            WORDS[(i + j) % len(WORDS)] for j in range(3 + i % 5)
        ) + f" filler{i}"
        rows.append(
            (1, f"http://h{i % 9:02d}.test/p{i}", i, f"h{i % 9:02d}.test",
             1, 200, text)
        )
    # revisit of doc 0 with NEW text (old text had no 'merge')
    rows.append(
        (2, "http://h00.test/p0", 0, "h00.test", 1, 200, "merge rank fresh")
    )
    # a 404 and a 304 must not be indexed
    rows.append((1, "http://h00.test/miss", 900, "h00.test", 1, 404, None))
    rows.append((2, "http://h01.test/p1", 1, "h01.test", 1, 304, None))
    return spark.createDataFrame(
        rows,
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )


@pytest.fixture(scope="module")
def inline_docs(spark, fetched_fixture):
    """The ground-truth docs set (latest 200 text per url) + inline postings."""
    docs = (
        fetched_fixture.filter(
            (F.col("status") == 200) & F.col("text").isNotNull()
        )
        .groupBy("url_hash64")
        .agg(
            F.max_by("text", "round").alias("text"),
            F.max_by("host", "round").alias("host"),
        )
        .select(F.col("url_hash64").alias("doc_id"), "host", "text")
    )
    return docs.localCheckpoint()


@pytest.fixture(scope="module")
def search_job(spark, fetched_fixture, tmp_path_factory):
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("search_idx")), n_buckets=16
    )
    job.build_from_fetched(fetched_fixture)
    return job


def _docs(df, col="doc"):
    return {r[col] for r in df.collect()}


def test_revisit_replaces_old_body(search_job):
    # doc 0's round-1 text is gone: its round-2 text has 'merge', and the
    # round-1-only word 'filler0' must not hit doc 0 anymore
    assert 0 in _docs(search_job.search_and(["merge"]))
    assert 0 not in _docs(search_job.search_and(["filler0"]))


def test_and_or_not_match_inline(search_job, inline_docs):
    inline = build_postings(inline_docs, "doc_id", "text")
    for terms in (["spark", "data"], ["crawl"], ["merge", "rank"]):
        assert _docs(search_job.search_and(terms)) == _docs(
            docs_with_all(inline, terms)
        ), terms
    assert _docs(search_job.search_any(["spark", "merge"])) == _docs(
        docs_with_any(inline, ["spark", "merge"])
    )
    got = search_job.search_not(["spark"], "merge")
    want = docs_without(docs_with_all(inline, ["spark"]), inline, "merge")
    assert _docs(got) == _docs(want)


def test_phrase_and_proximity_match_inline(search_job, inline_docs):
    inline = build_postings(inline_docs, "doc_id", "text")
    assert _docs(search_job.search_phrase("spark", "data")) == _docs(
        phrase_match(inline, "spark", "data")
    )
    assert _docs(search_job.search_proximity("spark", "index", 3)) == _docs(
        proximity_match(inline, "spark", "index", 3)
    )


def test_morphology_matches_inline(search_job, inline_docs):
    inline = build_postings(inline_docs, "doc_id", "text")
    terms = ["table"]
    expanded = expand_terms(terms)
    got = {(r["doc"], r["score"]) for r in search_job.search_any_form(terms).collect()}
    want = {
        (r["doc"], r["score"])
        for r in docs_with_any(inline, expanded).collect()
    }
    assert got == want


def test_zone_rank_matches_inline(search_job, inline_docs):
    inline_zp = build_zone_postings(inline_docs, "doc_id", "text")
    got = [
        (r["doc"], r["score"])
        for r in search_job.search_zone_ranked(["spark", "rank"], k=10).collect()
    ]
    want = [
        (r["doc"], r["score"])
        for r in rank_zone_weighted(inline_zp, ["spark", "rank"], k=10).collect()
    ]
    assert got == want


def test_site_grouped_paging(search_job, inline_docs):
    """J9/W4: one best hit per site, deterministic paging."""
    res = search_job.search_ranked(
        ["spark"], page=0, page_size=5, one_per_site=True
    ).collect()
    assert 0 < len(res) <= 5
    hosts = [r["host"] for r in res]
    assert len(hosts) == len(set(hosts)), "one hit per site"


def test_query_time_scan_partition_prunes(search_job):
    probe = search_job.probe(["spark", "merge"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "word_bucket" in plan, plan


def test_excerpts_match_inline(search_job, inline_docs):
    """Round-3 verdict missing #1: per-hit context excerpts. The stored-
    index path (ranked page → stored-text join) must equal the inline
    computation (with_excerpts over inline postings hits) exactly —
    best_term AND excerpt text. (Must run BEFORE the lsm-merge test: the
    module-scoped job mutates there and inline_docs is pre-merge.)"""
    from aspseek_spark.operators.postings import rank_results, with_excerpts

    terms = ["spark", "data"]
    got = {
        (r["doc"], r["best_term"], r["excerpt"])
        for r in search_job.search_excerpts(terms, page_size=8).collect()
    }
    inline = build_postings(inline_docs, "doc_id", "text")
    ranked = rank_results(docs_with_any(inline, terms), page_size=8)
    want = {
        (r["doc"], r["best_term"], r["excerpt"])
        for r in with_excerpts(ranked, inline_docs, terms).collect()
    }
    assert got == want
    assert all(ex for _, _, ex in got), "excerpts must be non-empty"


def test_excerpts_for_page_prunes_and_matches(search_job, inline_docs):
    """The pruned serving path: same excerpts as the DataFrame join path,
    and the stored-text scan partition-prunes on doc_bucket."""
    terms = ["spark", "data"]
    page = search_job.search_ranked(terms, page_size=5).collect()
    ids = [r["doc"] for r in page]
    pruned = search_job.excerpts_for_page(terms, ids)
    got = {
        (r["doc"], r["best_term"], r["excerpt"]) for r in pruned.collect()
    }
    full = {
        (r["doc"], r["best_term"], r["excerpt"])
        for r in search_job.search_excerpts(terms, page_size=5).collect()
    }
    assert got == full
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "doc_bucket" in plan, plan


def test_lsm_merge_delta(search_job, spark):
    """SNK2 refresh: a later round's fetched delta merges into the stored
    index — new words become searchable, old postings survive."""
    delta = spark.createDataFrame(
        [(3, "http://h05.test/new", 500, "h05.test", 1, 200,
          "brandnew spark docdelta")],
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )
    search_job.merge_delta(delta)
    assert 500 in _docs(search_job.search_and(["brandnew"]))
    assert 500 in _docs(search_job.search_and(["spark"]))
    # pre-merge postings intact
    assert 0 in _docs(search_job.search_and(["merge"]))


def test_excerpt_follows_merge_delta(spark, fetched_fixture, tmp_path_factory):
    """After an LSM merge, a revisited doc's excerpt serves the NEW body
    (the stored-text table versions in lockstep with the index)."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("exc_merge")), n_buckets=16
    )
    job.build_from_fetched(fetched_fixture)
    delta = spark.createDataFrame(
        [(5, "http://h00.test/p0", 0, "h00.test", 1, 200,
          "merge wins freshest body text here")],
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )
    job.merge_delta(delta)
    rows = {
        r["doc"]: r["excerpt"]
        for r in job.excerpts_for_page(["merge"], [0]).collect()
    }
    assert rows[0].startswith("merge wins freshest")


def test_merge_replaces_revisited_doc_postings(
    spark, fetched_fixture, tmp_path_factory
):
    """A re-crawled doc's postings must REPLACE its old ones in the LSM
    merge: before this fix the merge unioned old+new, so a stale word kept
    hitting the revisited doc forever (index/stored-text divergence)."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("replace_idx")), n_buckets=16
    )
    job.build_from_fetched(fetched_fixture)
    assert 1 in _docs(job.search_and(["filler1"]))  # doc 1's unique word
    delta = spark.createDataFrame(
        [(3, "http://h01.test/p1", 1, "h01.test", 1, 200,
          "replacement body only")],
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )
    job.merge_delta(delta)
    assert 1 not in _docs(job.search_and(["filler1"])), "stale postings"
    assert 1 in _docs(job.search_and(["replacement"]))
    # stored text agrees with the index
    ex = {r["doc"]: r["excerpt"]
          for r in job.excerpts_for_page(["replacement"], [1]).collect()}
    assert ex[1].startswith("replacement body")


def test_merge_delta_replace_semantics(spark, tmp_path_factory):
    """REPLACE semantics of the LSM merge (round 4): doc 0 re-crawled as
    "a d" keeps only the delta's words and tf — old 'b' gone, 'a' tf 1,
    new 'd' present — and untouched doc 1 carries over intact."""
    schema = (
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string"
    )
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("replace_tf")), n_buckets=4
    )
    job.build_from_fetched(spark.createDataFrame(
        [(1, "http://h.test/0", 0, "h.test", 1, 200, "a b a"),
         (1, "http://h.test/1", 1, "h.test", 1, 200, "b c")],
        schema,
    ))
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b c")], "doc_id long, text string"
    )
    assert (
        spark.read.parquet(job.index_path).count()
        == build_postings(docs, "doc_id", "text").count()
    )
    job.merge_delta(spark.createDataFrame(
        [(2, "http://h.test/0", 0, "h.test", 1, 200, "a d")], schema
    ))
    merged = spark.read.parquet(job.index_path)

    def tf(doc):
        return {
            r["word"]: r["tf"]
            for r in merged.filter(F.col("doc") == doc).collect()
        }

    assert tf(0) == {"a": 1, "d": 1}
    assert tf(1) == {"b": 1, "c": 1}


def test_merge_deletes_gone_docs(spark, fetched_fixture, tmp_path_factory):
    """The reference's delete pass: a URL answering 404 on revisit leaves
    postings AND the stored-text table in the merged generation."""
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("gone_idx")), n_buckets=16
    )
    job.build_from_fetched(fetched_fixture)
    assert 2 in _docs(job.search_and(["filler2"]))
    delta = spark.createDataFrame(
        [(3, "http://h02.test/p2", 2, "h02.test", 1, 404, None)],
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )
    job.merge_delta(delta)
    assert 2 not in _docs(job.search_and(["filler2"]))
    meta = spark.read.parquet(job.meta_path)
    assert meta.filter(F.col("doc_id") == 2).count() == 0
    # other docs untouched
    assert 0 in _docs(job.search_and(["merge"]))


def test_zone_rank_follows_merge_delta(spark, fetched_fixture, tmp_path_factory):
    """Round-4 verdict fix #1: the zone index versions under the SAME
    pointer as the main index and merge_delta compacts it with the same
    replace+drop semantics — a revisited doc re-scores on its NEW body, a
    404'd doc vanishes from zone-ranked results, and a crash before the
    flip leaves the old zone index readable."""
    import os

    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("zone_merge")), n_buckets=16
    )
    job.build_from_fetched(fetched_fixture)
    assert job.zone_path.endswith("zone_postings_v0")
    # pre-merge: doc 2 ranks for its unique word; doc 0 scores on 'merge'
    pre2 = {r["doc"] for r in job.search_zone_ranked(["filler2"]).collect()}
    assert 2 in pre2
    pre0 = {
        r["doc"]: r["score"]
        for r in job.search_zone_ranked(["zonefresh", "merge"]).collect()
    }
    assert 0 in pre0  # scores via 'merge' in its round-2 body

    # crash simulation: half-built next zone gen + stale pointer tmp —
    # reads still resolve v0 and serve
    half = os.path.join(job.root, "zone_postings_v1")
    os.makedirs(half, exist_ok=True)
    with open(os.path.join(half, "junk.parquet"), "w") as f:
        f.write("partial")
    assert job.zone_path.endswith("zone_postings_v0")
    assert 2 in {
        r["doc"] for r in job.search_zone_ranked(["filler2"]).collect()
    }

    # merge: doc 0 revisited with a new body (drops 'merge', gains
    # 'zonefresh'); doc 2 answers 404
    delta = spark.createDataFrame(
        [
            (5, "http://h00.test/p0", 0, "h00.test", 1, 200,
             "zonefresh body words only"),
            (5, "http://h02.test/p2", 2, "h02.test", 1, 404, None),
        ],
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )
    job.merge_delta(delta)
    assert job.zone_path.endswith("zone_postings_v1")
    post = {
        r["doc"]: r["score"]
        for r in job.search_zone_ranked(["zonefresh", "merge"]).collect()
    }
    assert 0 in post  # re-scored on the NEW body via 'zonefresh'
    # old body's 'merge' no longer contributes to doc 0: its score now
    # comes from one 'zonefresh' hit (title-proxy zone → weight applies);
    # critically the stale 'merge' postings are gone
    merge_hits = {
        r["doc"] for r in job.search_zone_ranked(["merge"], k=50).collect()
    }
    assert 0 not in merge_hits, "stale zone postings served after merge"
    # deleted doc vanishes from zone-ranked results
    assert 2 not in {
        r["doc"] for r in job.search_zone_ranked(["filler2"], k=50).collect()
    }
    # untouched docs still rank
    assert 1 in {
        r["doc"] for r in job.search_zone_ranked(["filler1"], k=50).collect()
    }


def test_real_title_zone_outranks_body_hits(spark, tmp_path_factory):
    """Round-4 verdict fix #2: a fetched table carrying the parser's
    extract_title output uses REAL title tf — a doc whose <title> contains
    the term outranks docs with body-only hits, and the first-4-tokens
    proxy is NOT applied (body position no longer fakes a title)."""
    rows = [
        # doc 1: term in the TITLE only (body leads with other words)
        (1, "http://t.test/a", 1, "t.test", 1, 200,
         "alpha beta gamma delta widget here", "widget catalog"),
        # doc 2: term twice in the BODY, leading position, no title hit
        (1, "http://t.test/b", 2, "t.test", 1, 200,
         "widget widget beta gamma delta", "unrelated heading"),
        # doc 3: no term at all
        (1, "http://t.test/c", 3, "t.test", 1, 200,
         "nothing relevant", "other title"),
    ]
    fetched = spark.createDataFrame(
        rows,
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string, title string",
    )
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("title_zone")), n_buckets=8
    )
    job.build_from_fetched(fetched)
    got = [
        (r["doc"], r["score"])
        for r in job.search_zone_ranked(["widget"], title_weight=8).collect()
    ]
    # doc 1: 8*1 (title) + 1 (body) = 9; doc 2: body tf 2 = 2 — title wins
    assert got == [(1, 9), (2, 2)]
    # proxy disabled: doc 2's leading body 'widget' does NOT count as title
    inline = build_zone_postings(
        spark.createDataFrame(
            [(2, "widget widget beta gamma delta", "unrelated heading")],
            "doc_id long, text string, title string",
        ),
        "doc_id", "text", title_col="title",
    )
    r2 = inline.filter(F.col("word") == "widget").collect()[0]
    assert (r2["tf_title"], r2["tf_body"]) == (0, 2)


def test_clone_collapsed_ranking(spark, tmp_path_factory):
    """J5 at serve time (round-4 verdict next-round #6): two byte-identical
    docs collapse to one result (best score, tie → doc asc); docs with a
    NULL digest stay their own group."""
    rows = [
        (1, "http://c.test/a", 1, "c.test", 1, 200, "spark data twice spark",
         "md5same"),
        (1, "http://c.test/b", 2, "c.test", 1, 200, "spark data twice spark",
         "md5same"),
        (1, "http://c.test/c", 3, "c.test", 1, 200, "spark once",
         "md5other"),
        (1, "http://c.test/d", 4, "c.test", 1, 200, "spark nodigest", None),
        (1, "http://c.test/e", 5, "c.test", 1, 200, "spark nodigest2", None),
    ]
    fetched = spark.createDataFrame(
        rows,
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string, content_md5 string",
    )
    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("clone_rank")), n_buckets=8
    )
    job.build_from_fetched(fetched)
    got = [
        (r["doc"], r["score"])
        for r in job.search_ranked(["spark"], one_per_clone=True).collect()
    ]
    # clones 1/2 collapse to doc 1 (score 2 each, doc asc); doc 3 stays;
    # NULL-digest docs 4 and 5 are NOT grouped together
    assert got == [(1, 2), (3, 1), (4, 1), (5, 1)]
    # without collapse both clones rank
    full = {r["doc"] for r in job.search_ranked(["spark"]).collect()}
    assert {1, 2, 3, 4, 5} <= full


def test_merge_swap_is_atomic(spark, fetched_fixture, tmp_path_factory):
    """Round-3 ADVICE: the old rename/rename swap had a window with NO live
    index. The versioned-dir + pointer-file scheme must (a) always resolve
    a readable index, (b) retain the replaced generation one merge for
    in-flight readers, (c) recover from a crash that left a half-built next
    generation and a stale pointer tmp."""
    import os
    import shutil

    job = SearchJob(
        spark, str(tmp_path_factory.mktemp("atomic_idx")), n_buckets=16
    )
    job.build_from_fetched(fetched_fixture)
    manifest = os.path.join(job.root, "manifest.json")
    assert os.path.exists(manifest)
    v0_dir = job.index_path
    assert v0_dir.endswith("postings_v0")

    # simulate a crash mid-merge: half-built next gen + stale pointer tmp
    half = os.path.join(job.root, "postings_v1")
    os.makedirs(half, exist_ok=True)
    with open(os.path.join(half, "junk.parquet"), "w") as f:
        f.write("partial write from a crashed merge attempt")
    with open(manifest + ".tmp", "w") as f:
        f.write("99")
    # the pointer never flipped: reads still resolve v0 and work
    assert job.index_path == v0_dir
    assert 0 in _docs(job.search_and(["merge"]))

    # retry the merge: the half-built dir is clobbered, pointer flips to v1
    delta = spark.createDataFrame(
        [(3, "http://h05.test/new", 501, "h05.test", 1, 200,
          "atomicnew spark")],
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, status int, text string",
    )
    job.merge_delta(delta)
    assert job.index_path.endswith("postings_v1")
    assert 501 in _docs(job.search_and(["atomicnew"]))
    assert 0 in _docs(job.search_and(["merge"]))
    # (b) the replaced generation is retained one merge...
    assert os.path.isdir(v0_dir)
    # ...and GC'd after the NEXT one
    job.merge_delta(
        delta.withColumn("url_hash64", F.lit(502).cast("long")).withColumn(
            "url_canon", F.lit("http://h05.test/new2")
        )
    )
    assert job.index_path.endswith("postings_v2")
    assert not os.path.isdir(v0_dir)
    assert os.path.isdir(os.path.join(job.root, "postings_v1"))
    shutil.rmtree(job.root, ignore_errors=True)
