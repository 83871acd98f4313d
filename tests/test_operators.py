"""Operator-level tests: dedup family, similarity, postings, rank,
multimodal plumbing, streaming parity (SURVEY.md §2 coverage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 0
        (2, "completely different content about spark engines", "en"),
        (3, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (4, "der schnelle braune fuchs springt", "de"),
        (5, "la table est grande et le chat est petit", "fr"),
        (6, "spark engines process data in parallel clusters", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    from aspseek_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs).collect()
    assert len(out) == 6  # 7 docs, one exact dup
    by_rep = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_rep[0] == 2  # docs 0+3 collapse, min id kept


def test_minhash_lsh_finds_near_dups(docs):
    from aspseek_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, num_hashes=32, bands=16, shingle_n=2, jaccard_threshold=0.5
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (0, 3) in got  # exact dup always found (jaccard 1.0)
    assert (0, 1) in got or (1, 3) in got  # near-dup found
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_minhash_agrees_with_exact_jaccard(docs):
    from aspseek_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(docs, shingle_n=2, threshold=0.5).collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=16, shingle_n=2, jaccard_threshold=0.5
        ).collect()
    }
    # LSH's verified output must be a subset of ground truth; with 16 bands
    # of 2 rows recall on >=0.5 pairs is ~1 at this scale → equality here
    assert lsh == exact


def test_simhash_identical_docs_same_hash(docs):
    from aspseek_spark.operators.dedup import simhash

    out = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[0] == out[3]
    assert out[0] != out[2]


def test_cosine_topk_and_knn(spark):
    from aspseek_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_ann,
        knn_join_bruteforce,
        lsh_bucket_ann,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.7, 0.7, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = cosine_topk_bruteforce(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]

    knn = knn_join_bruteforce(emb, emb, k=1).collect()
    nn = {r["qid"]: r["nid"] for r in knn}
    assert nn[0] == 1 and nn[1] == 0

    # LSH with one identity-ish hyperplane set: bucket of the query must
    # contain vec 0/1/4 (positive x side)
    hp = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    lsh = lsh_bucket_ann(emb, [1.0, 0.05, 0.0], hp, k=3).collect()
    assert [r["vec_id"] for r in lsh][0] == 0

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    ivf = ivf_ann(emb, [1.0, 0.0, 0.0], cents, n_probe=1, k=2).collect()
    assert [r["vec_id"] for r in ivf] == [0, 1]


def test_postings_boolean_and_phrase(spark):
    from aspseek_spark.operators.postings import (
        build_postings,
        docs_with_all,
        docs_with_any,
        docs_without,
        phrase_match,
        proximity_match,
        word_doc_freq,
    )

    rows = [
        (0, "spark streams data fast"),
        (1, "spark processes data"),
        (2, "slow batch processing"),
        (3, "data spark data"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = build_postings(docs, "doc_id", "text")
    assert {r["doc"] for r in docs_with_all(p, ["spark", "data"]).collect()} == {0, 1, 3}
    assert {r["doc"] for r in docs_with_any(p, ["slow", "fast"]).collect()} == {0, 2}
    base = docs_with_any(p, ["spark"])
    assert {r["doc"] for r in docs_without(base, p, "fast").collect()} == {1, 3}
    assert {r["doc"] for r in phrase_match(p, "spark", "data").collect()} == {3}
    assert {r["doc"] for r in proximity_match(p, "spark", "data", 2).collect()} == {0, 1, 3}
    dfreq = {r["word"]: r["df"] for r in word_doc_freq(p).collect()}
    assert dfreq["spark"] == 3 and dfreq["data"] == 3


def test_morphology_expand_and_query(spark):
    from aspseek_spark.operators.postings import (
        build_postings,
        docs_with_any_form,
        expand_terms,
    )

    assert expand_terms(["table"]) == ["table", "tables"]
    assert expand_terms(["tables"]) == ["tables", "table"]
    assert expand_terms(["run"], {"run": ["ran", "running"]}) == [
        "run", "ran", "running",
    ]
    docs = spark.createDataFrame(
        [(0, "many tables here"), (1, "one table"), (2, "no furniture")],
        "doc_id long, text string",
    )
    p = build_postings(docs, "doc_id", "text")
    got = {r["doc"] for r in docs_with_any_form(p, ["table"]).collect()}
    assert got == {0, 1}


def test_zone_postings_and_ranking(spark):
    from aspseek_spark.operators.postings import (
        build_zone_postings,
        rank_zone_weighted,
    )

    rows = [
        (0, "spark engine internals and tuning notes for spark"),
        (1, "cooking recipes for spark nothing else here today friend"),
        (2, "unrelated text about gardens and flowers in spring"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    zp = build_zone_postings(docs, title_tokens=3)
    z = {(r["doc"], r["word"]): r for r in zp.collect()}
    # 'spark' is in doc0's title (first 3 tokens) AND body → mask 3, tf both
    assert z[(0, "spark")]["zone_mask"] == 3
    assert z[(0, "spark")]["tf_title"] == 1 and z[(0, "spark")]["tf_body"] == 2
    # 'spark' in doc1 is body-only (position 4 > title span 3) → mask 2
    assert z[(1, "spark")]["zone_mask"] == 2
    # title hit outranks more body hits: doc0 (1 title + 2 body = 8+2=10)
    # vs doc1 (1 body = 1)
    top = rank_zone_weighted(zp, ["spark"], title_weight=8, k=10).collect()
    assert [r["doc"] for r in top] == [0, 1]
    assert top[0]["score"] == 10 and top[1]["score"] == 1


def test_simhash_near_pairs_hamming(docs):
    from aspseek_spark.operators.dedup import simhash_near_pairs

    # identical docs are at hamming 0 — always found via any chunk
    out = simhash_near_pairs(docs, max_hamming=3, n_chunks=4).collect()
    got = {(r["a"], r["b"]): r["hamming"] for r in out}
    assert got.get((0, 3)) == 0
    # everything reported respects the bound
    assert all(h <= 3 for h in got.values())


def test_md5_hash_mode_matches_xxhash_semantics(docs):
    """hash_fn choice changes bucket identities, not WHICH near-dups the
    verified output contains (the exact-Jaccard verify is hash-free)."""
    from aspseek_spark.operators.dedup import minhash_lsh_pairs, simhash

    for fn in ("xxhash64", "md5"):
        pairs = {
            (r["a"], r["b"])
            for r in minhash_lsh_pairs(
                docs, num_hashes=32, bands=16, shingle_n=2,
                jaccard_threshold=0.5, hash_fn=fn,
            ).collect()
        }
        assert (0, 3) in pairs
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs, hash_fn="md5").collect()}
    assert s[0] == s[3] and s[0] != s[2]
    assert all(0 <= v < (1 << 60) for v in s.values())  # 60-bit portable


def test_form_map_file_loading(spark, tmp_path):
    from aspseek_spark.operators.postings import (
        build_postings,
        docs_with_any_form,
        load_form_map,
    )

    p = tmp_path / "forms.dict"
    p.write_text(
        "# english inflections\n"
        "run: ran running runs\n"
        "Table: tables  # furniture\n"
        "\n"
        "bad-line-no-colon\n"
    )
    fm = load_form_map(str(p))
    assert fm == {"run": ["ran", "running", "runs"], "table": ["tables"]}
    docs = spark.createDataFrame(
        [(0, "she ran home"), (1, "a running start"), (2, "nothing")],
        "doc_id long, text string",
    )
    posts = build_postings(docs, "doc_id", "text")
    got = {r["doc"] for r in docs_with_any_form(posts, ["run"], fm).collect()}
    assert got == {0, 1}


def test_bucketed_postings_probe_prunes_partitions(spark, tmp_path):
    """The q35 scale path: a term probe against the stored bucketed index
    must PRUNE to the terms' word-hash buckets (PartitionFilters in the
    scan), not re-read the whole index — and return the same rows as a
    full-scan filter."""
    import io
    from contextlib import redirect_stdout

    from aspseek_spark.operators.postings import (
        build_postings,
        docs_with_all,
        probe_postings_bucketed,
        write_postings_bucketed,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 17} spark data w{i % 5} filler{i}") for i in range(300)],
        "doc_id long, text string",
    )
    p = build_postings(docs, "doc_id", "text")
    path = str(tmp_path / "idx")
    write_postings_bucketed(p, path, n_buckets=16)

    probe = probe_postings_bucketed(spark, path, ["spark", "data"], n_buckets=16)
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "word_bucket" in plan, plan

    got = {r["doc"] for r in docs_with_all(probe, ["spark", "data"]).collect()}
    want = {r["doc"] for r in docs_with_all(p, ["spark", "data"]).collect()}
    assert got == want == set(range(300))


def test_pagerank_sink_gets_rank(spark):
    from aspseek_spark.operators.rank import pagerank

    # star: 1,2,3 all point at 0; 0 points at 1
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=15).collect()}
    assert ranks[0] > ranks[1] > ranks[2] - 1e-9
    assert abs(sum(ranks.values()) - 4.0) < 0.05  # mass conserved


def test_multimodal_plumbing(spark):
    from aspseek_spark.operators.multimodal import (
        extract_features,
        make_synthetic_media,
        resize_images,
        sample_frames,
    )

    media = make_synthetic_media(spark, n=30)
    feats = extract_features(media, strict=False).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == 16 for r in feats)
    # deterministic: same payload → same features
    again = extract_features(media, strict=False).collect()
    assert {(r["media_id"], tuple(r["features"])) for r in feats} == {
        (r["media_id"], tuple(r["features"])) for r in again
    }
    resized = resize_images(media, 64, 64).collect()
    assert all(r["width"] == 64 for r in resized)
    frames = sample_frames(media, every_ms=1000).collect()
    assert len(frames) == 30  # 10 videos × 3 frames (3000ms / 1000)
    with pytest.raises(Exception):
        extract_features(media, strict=True).collect()


def test_multimodal_strict_raises_through_real_plans(spark):
    """The prod seam must fail LOUDLY (round-2 verdict next-step #9): every
    codec-backed operator evaluated with strict=True raises the stub's
    NotImplementedError through the executed Spark plan — including when
    the operator sits under further transformations — never silently
    returning fake features."""
    from aspseek_spark.operators.multimodal import (
        extract_features,
        make_synthetic_media,
        resize_images,
        sample_frames,
    )
    from pyspark.sql import functions as F

    media = make_synthetic_media(spark, n=12)
    for build in (
        lambda: extract_features(media, strict=True),
        lambda: resize_images(media, 64, 64, strict=True),
        lambda: sample_frames(media, every_ms=1000, strict=True),
        # strict failure must survive downstream plan nodes too
        lambda: extract_features(media, strict=True)
        .groupBy("kind")
        .agg(F.count("*").alias("n")),
    ):
        with pytest.raises(Exception) as ei:
            build().collect()
        assert "NotImplementedError" in str(ei.value) or "codec" in str(
            ei.value
        ), str(ei.value)[:300]


def test_neardup_clusters_match_union_find(spark):
    """Connected components via min-label propagation must match a plain
    union-find ground truth on a random pair graph (chains force multiple
    propagation iterations), with exactly one kept representative (the
    minimum id) per component and singletons clustering with themselves."""
    import random

    from aspseek_spark.operators.dedup import neardup_clusters

    rng = random.Random(7)
    n = 300
    pairs = sorted(
        {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(120)
        }
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    # a long chain exercises diameter > 1 propagation
    pairs += [(i, i + 1) for i in range(290, 299)]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pdf = spark.createDataFrame(pairs, "a long, b long")
    got_rows = neardup_clusters(docs, pdf).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in got_rows}
    assert got == want
    kept = {r["doc_id"] for r in got_rows if r["kept"] == 1}
    assert kept == set(want.values())


def test_neardup_clusters_string_ids_converge(spark):
    """Regression (round-3 ADVICE): fixpoint detection must work for
    NON-NUMERIC doc ids. The old sum(label) probe was NULL on strings, so
    None == None terminated after one iteration with unconverged clusters
    on any graph of diameter > 1."""
    from aspseek_spark.operators.dedup import neardup_clusters

    # chain d0-d1-...-d6: diameter 6, needs several propagation rounds
    n = 7
    ids = [f"d{i}" for i in range(n)]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    pairs = spark.createDataFrame(
        [(f"d{i}", f"d{i+1}") for i in range(n - 1)], "a string, b string"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in neardup_clusters(docs, pairs).collect()
    }
    assert got == {i: "d0" for i in ids}


def test_neardup_clusters_star_chain_logarithmic(spark):
    """large-star/small-star on a pathological 10^4-node chain (diameter
    10^4, the case min-label propagation cannot touch): exact union-find
    parity AND convergence in ≤ ⌈log2 n⌉ + 4 alternation rounds (round-3
    verdict next-round #6)."""
    import math

    from aspseek_spark.operators.dedup import neardup_clusters_star

    n = 10_000
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    stats: dict = {}
    got_rows = neardup_clusters_star(docs, pairs, stats=stats).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in got_rows}
    assert got == {i: 0 for i in range(n)}
    assert sum(r["kept"] for r in got_rows) == 1
    bound = math.ceil(math.log2(n)) + 4
    assert stats["iterations"] <= bound, stats


def test_neardup_clusters_star_matches_propagation(spark):
    """Flag-switched variant: identical clusters to min-label propagation
    (and hence union-find) on a random pair graph with singletons."""
    import random

    from aspseek_spark.operators.dedup import (
        neardup_clusters,
        neardup_clusters_star,
    )

    rng = random.Random(11)
    n = 400
    pairs = sorted(
        {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(150)
        }
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pdf = spark.createDataFrame(pairs, "a long, b long")
    want = {
        r["doc_id"]: (r["cluster_id"], r["kept"])
        for r in neardup_clusters(docs, pdf).collect()
    }
    got = {
        r["doc_id"]: (r["cluster_id"], r["kept"])
        for r in neardup_clusters_star(docs, pdf).collect()
    }
    assert got == want


def test_ann_recall_dedup_and_per_query(spark):
    """Regression (round-3 ADVICE): duplicate approx ids must not inflate
    recall past 1.0, and query_col groups the evaluation per query against
    that query's OWN exact top-k."""
    from aspseek_spark.operators.similarity import ann_recall

    # duplicates: approx lists id 1 three times; exact top-2 = {1, 2}
    approx = spark.createDataFrame(
        [(1,), (1,), (1,), (2,)], "vec_id long"
    )
    exact = spark.createDataFrame([(1,), (2,)], "vec_id long")
    r = ann_recall(approx, exact, 2).collect()[0]
    assert r["recall_at_k"] == 1.0  # was 2.0 before the distinct

    # per-query: q=0 found both of its top-2, q=1 found one of its own and
    # one id that is only in the OTHER query's truth (must not count)
    approx_q = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 2)], "qid long, vec_id long"
    )
    exact_q = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 4)], "qid long, vec_id long"
    )
    rows = {
        r["qid"]: r["recall_at_k"]
        for r in ann_recall(
            approx_q, exact_q, 2, query_col="qid"
        ).collect()
    }
    assert rows == {0: 1.0, 1: 0.5}


def test_mime_strip_jvm_matches_python_on_unicode_ws(spark):
    """Round-3 ADVICE: Java regex \\s is ASCII-only while the oracle's
    media_type_of uses Python str.strip() (Unicode-aware). The engine's
    PY_WS_CLASS regexp must strip EXACTLY the Python set — checked here for
    every isspace character, through a real JVM plan."""
    from pyspark.sql import functions as F

    from aspseek_spark.functions.textextract import PY_WS_CLASS, media_type_of

    ws_chars = [chr(c) for c in range(0x3001) if chr(c).isspace()]
    cts = []
    for ch in ws_chars:
        cts.append(f"text/html{ch}")
        cts.append(f"{ch}TEXT/plain{ch}; charset=utf-8")
    cts += ["application/pdf", "text/html; charset=koi8-r", "a\xa0　"]
    df = spark.createDataFrame([(s,) for s in cts], "content_type string")
    got = {
        r["content_type"]: r["mt"]
        for r in df.select(
            "content_type",
            F.lower(
                F.regexp_replace(
                    F.element_at(F.split("content_type", ";"), 1),
                    f"^{PY_WS_CLASS}+|{PY_WS_CLASS}+$",
                    "",
                )
            ).alias("mt"),
        ).collect()
    }
    for s in cts:
        assert got[s] == media_type_of(s), repr(s)


def test_fake_decode_properties():
    """Property-pin the deterministic stand-in so the q37 oracle contract
    (values exactly reproducible as k/128 with k ∈ [-128, 127]) can't
    drift: any payload → FEATURE_DIM floats, each an exact multiple of
    1/128 in [-1, 1), and equal payloads give equal features."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aspseek_spark.operators.multimodal import FEATURE_DIM, _fake_decode

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=64))
    def check(payload):
        v1 = _fake_decode(payload)
        v2 = _fake_decode(payload)
        assert v1.shape == (FEATURE_DIM,)
        assert (v1 == v2).all()
        assert ((v1 >= -1.0) & (v1 < 1.0)).all()
        scaled = v1 * 128.0
        assert (scaled == scaled.astype("int32")).all()

    check()


def test_textstats_and_langid(spark):
    from aspseek_spark.operators.textstats import lang_id, quality_score, token_count

    rows = [
        (0, "the cat is in the hat and it is a good day for the cat to nap"),
        (1, "der hund und die katze das ist ein tag und der hund ist da"),
        (2, "x" * 5),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert t[0] == 17 and t[2] == 1
    langs = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert langs[0] == "en" and langs[1] == "de" and langs[2] == "und"
    q = {r["doc_id"]: r["quality_pass"] for r in quality_score(docs).collect()}
    assert q[0] == 1 and q[2] == 0


def test_streaming_matches_batch(spark, tmp_path):
    from aspseek_spark.streaming.metrics_stream import (
        read_fetched_stream,
        run_stream_to_memory,
        windowed_fetch_rates,
        windowed_fetch_rates_batch,
    )

    rows = [
        (1, f"http://h{i%3}.test/p{i}", i, f"h{i%3}.test", 1, 1,
         1767225600 + i * 600, 200 if i % 4 else 404, 0, "x", "t", 2)
        for i in range(24)
    ]
    cols = (
        "round int, url_canon string, url_hash64 long, host string, "
        "depth int, seq_in_host int, sched_unix long, status int, "
        "content_crc long, content_md5 string, text string, n_links int"
    )
    fetched = spark.createDataFrame(rows, cols)
    root = str(tmp_path / "fetched")
    fetched.write.parquet(root + "/round=1")

    stream = read_fetched_stream(spark, root)
    got = run_stream_to_memory(
        windowed_fetch_rates(stream), spark, "rates_test"
    )
    want = windowed_fetch_rates_batch(spark.read.parquet(root + "/round=1"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_docs_with_all_count_equals_countdistinct(spark):
    """r07 plan change: docs_with_all counts rows instead of distinct words
    under the one-row-per-(doc,word) postings invariant — the two
    formulations must agree on a real postings relation (multi-occurrence
    words, repeated/mixed-case query terms)."""
    from aspseek_spark.operators.postings import build_postings, docs_with_all

    docs = spark.createDataFrame(
        [
            (1, "spark table query table spark"),
            (2, "table only table"),
            (3, "query table query"),
            (4, "unrelated words here"),
        ],
        "doc_id long, text string",
    )
    p = build_postings(docs)
    got = {
        (r["doc"], r["score"])
        for r in docs_with_all(p, ["Table", "query", "table"]).collect()
    }
    ref = (
        p.filter(F.col("word").isin(["table", "query"]))
        .groupBy("doc")
        .agg(
            F.countDistinct("word").alias("nw"), F.sum("tf").alias("score")
        )
        .filter(F.col("nw") == 2)
        .select("doc", "score")
    )
    assert got == {(r["doc"], r["score"]) for r in ref.collect()}
    assert got == {(1, 3), (3, 3)}


def test_word_doc_freq_unique_matches_countdistinct(spark):
    """r07: word_doc_freq(unique_doc_word=True) — count(*) path — must
    equal the countDistinct path on a postings relation."""
    from aspseek_spark.operators.postings import build_postings, word_doc_freq

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b c"), (3, "a")],
        "doc_id long, text string",
    )
    p = build_postings(docs)
    a = {
        (r["word"], r["df"], r["cf"])
        for r in word_doc_freq(p).collect()
    }
    b = {
        (r["word"], r["df"], r["cf"])
        for r in word_doc_freq(p, unique_doc_word=True).collect()
    }
    assert a == b and ("a", 2, 3) in a


def test_python_xxhash64_matches_spark(spark):
    """r07: the driver-side XXH64 used for probe bucket routing must match
    Spark's F.xxhash64 (seed 42, UTF-8 bytes) bit-for-bit across every
    length class of the algorithm (empty, <4, <8, <32, multi-stripe) and
    non-ASCII — and pmod must agree on negative hashes."""
    from aspseek_spark.functions.hashing import (
        spark_pmod_xxhash64,
        spark_xxhash64,
    )

    words = [
        "", "a", "ab", "abc", "abcd", "abcdefg", "table", "query",
        "a-longer-token-word", "x" * 31, "x" * 32, "x" * 33, "y" * 100,
        "naïve", "東京", "mixedCASE", "0", "crawl-frontier-url",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w",
        F.xxhash64("w").alias("h"),
        F.pmod(F.xxhash64("w"), F.lit(32)).alias("b"),
    )
    for r in df.collect():
        assert spark_xxhash64(r["w"]) == r["h"], r["w"]
        assert spark_pmod_xxhash64(r["w"], 32) == r["b"], r["w"]
