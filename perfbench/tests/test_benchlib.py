"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import layers, metrics, querygen, stats  # noqa: E402
from benchlib.procmem import TreeRssSampler, pss_kb  # noqa: E402
from benchlib.tracing import (  # noqa: E402
    SPAN_PROPERTY,
    Span,
    Tracer,
    join_event_log,
    table_name,
)


# -- percentile rule ---------------------------------------------------------

def test_percentile_needs_ten_samples_beyond_it():
    vals = [float(i) for i in range(1, 20)]  # 19 samples: 9 beyond p50
    assert stats.percentile(vals, 0.5) is None
    vals.append(20.0)  # 20 samples: 10 beyond p50
    assert stats.percentile(vals, 0.5) == 10.0
    assert stats.percentile([1.0] * 99, 0.9) is None
    assert stats.percentile([float(i) for i in range(1, 101)], 0.9) == 90.0


def test_summary_reports_mean_without_refused_percentiles():
    s = stats.summary([2.0, 4.0])
    assert s == {"n": 2, "mean": 3.0, "p50": None, "p90": None}
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 50, 1.0)


# -- span → job attribution ----------------------------------------------------

def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run, gc=0, inp=0, out=0, shuf=0):
    return _ev(
        "SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": run * 1_000_000,
            "JVM GC Time": gc, "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuf},
        }},
    )


def test_event_log_join_attributes_jobs_stages_and_tasks_to_spans():
    props7 = {SPAN_PROPERTY: "7"}
    lines = [
        _ev("SparkListenerApplicationStart"),
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
                                        "Properties": props7}),
        _ev("SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 0}, "Properties": props7}),
        _ev("SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 1}, "Properties": props7}),
        _task(0, 10, gc=2, inp=1000, shuf=50),
        _task(0, 20),
        _task(1, 5, out=300),
        # a job started outside any action span
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
                                        "Properties": {}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
        _task(2, 40),
        # a later job listing stage 1 again, skipped: never submitted
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [1, 3],
                                        "Properties": {SPAN_PROPERTY: "8"}}),
        _ev("SparkListenerStageSubmitted",
            **{"Stage Info": {"Stage ID": 3},
               "Properties": {SPAN_PROPERTY: "8"}}),
        _task(3, 1),
        "",
    ]
    per, none = join_event_log(lines)
    f7 = per[7]
    assert (f7.jobs, f7.stages, f7.tasks) == (1, 2, 3)
    assert f7.run_ms == 35 and f7.cpu_ms == 35 and f7.gc_ms == 2
    assert (f7.input_bytes, f7.output_bytes, f7.shuffle_bytes) == (1000, 300, 50)
    assert (per[8].jobs, per[8].stages, per[8].tasks) == (1, 1, 1)
    assert (none.jobs, none.stages, none.tasks, none.run_ms) == (1, 1, 1, 40)


class _FakeContext:
    """The SparkContext surface Tracer uses, with per-thread properties."""

    def __init__(self):
        self._local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = self._local.__dict__.setdefault("props", {})
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value


def test_action_spans_tag_the_calling_thread_and_restore():
    sc = _FakeContext()
    t = Tracer(sc)
    seen = []
    with t.span("op", "op") as op:
        with t.span("action.count", "action") as a:
            seen.append(sc.getLocalProperty(SPAN_PROPERTY))

            def other_thread():
                with t.span("action.collect", "action") as b:
                    seen.append((b.id, sc.getLocalProperty(SPAN_PROPERTY)))

            th = threading.Thread(target=other_thread)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
        seen.append(sc.getLocalProperty(SPAN_PROPERTY))
    assert seen[0] == str(a.id)
    assert seen[1] == (seen[1][0], str(seen[1][0]))
    assert seen[2] is None
    by_name = {s.name: s for s in t.spans}
    assert by_name["action.count"].parent == op.id
    assert by_name["action.collect"].parent is None  # other thread
    assert by_name["action.collect"].thread != op.thread


def test_wrap_and_unwrap_restore_the_original():
    class C:
        def f(self, x):
            return x + 1

    class D(C):
        pass

    t = Tracer()
    t.wrap(C, "f", "c.f", attrs_of=lambda a, k: {"x": a[1]})
    t.wrap(D, "f", "d.f")
    assert D().f(1) == 2
    assert [s.name for s in t.spans] == ["c.f", "d.f"]
    assert t.spans[0].attrs == {"x": 1} and t.spans[0].parent == t.spans[1].id
    t.unwrap_all()
    assert "f" not in vars(D) and C.f.__name__ == "f"
    assert not hasattr(C.f, "__wrapped__")


def test_table_name_from_write_paths():
    assert table_name("/s/bloom/round=3") == "bloom"
    assert table_name("/s/frontier_rounds/round=3") == "frontier_rounds"
    assert table_name("/i/postings_v12") == "postings"
    assert table_name("/i/rt/seg_3/fetched") == "fetched"


def _span(i, name, kind, start, end, parent=None, thread=1, **attrs):
    return Span(i, name, kind, parent, thread, start, end, attrs)


def test_assignment_by_parent_time_and_handler_thread():
    spans = [
        _span(1, "setup", "posthoc", 0, 1),
        _span(2, "action.count", "action", 0.1, 0.2, parent=1),
        # two serial ops in thread 1, a pool-thread span inside the second
        _span(3, "crawl.round", "op", 2, 4),
        _span(4, "action.collect", "action", 2.5, 3, parent=3),
        _span(5, "crawl.round", "op", 5, 7),
        _span(6, "action.parquet:links", "action", 5.5, 6, thread=9),
        _span(7, "action.parquet:links", "action", 8, 9, thread=9),
    ]
    asg = layers.Assignment(spans, timed_from=1.5)
    assert [o.id for o in asg.ops] == [3, 5]
    assert [s.id for s in asg.of_op[3]] == [4]
    assert [s.id for s in asg.of_op[5]] == [6]
    assert {s.id for s in asg.outside} == {1, 2, 7}

    # concurrent clients: handler threads are matched by request text
    spans = [
        _span(1, "searchd.Q", "op", 0, 2, thread=1, req="a", client=0),
        _span(2, "searchd.Q", "op", 0.5, 2.5, thread=2, req="b", client=1),
        _span(3, "search_job.search_query", "layer", 0.6, 0.7, thread=11,
              req="b"),
        _span(4, "action.collect", "action", 0.7, 2.2, thread=11, parent=3),
        _span(5, "search_job.search_query", "layer", 0.1, 0.2, thread=10,
              req="a"),
    ]
    asg = layers.Assignment(spans, timed_from=0)
    assert [s.id for s in asg.of_op[1]] == [5]
    assert sorted(s.id for s in asg.of_op[2]) == [3, 4]


def test_span_table_self_time_counts_pool_thread_children():
    from benchlib.tracing import SparkFigures

    spans = [
        _span(1, "crawl.round", "op", 0, 10),
        _span(2, "crawl_loop.run_one", "layer", 0, 10, parent=1),
        _span(3, "action.count", "action", 5, 6, parent=2),
        # started from a pool thread while run_one was open
        _span(4, "action.parquet:links", "action", 2, 4, thread=7),
        _span(5, "action.parquet:fetched", "action", 3, 12, thread=8),
    ]
    per_span = {3: SparkFigures(jobs=1, tasks=4),
                4: SparkFigures(jobs=2, tasks=3)}
    rows = {r["name"]: r for r in
            layers._span_table(layers.Assignment(spans, 0), per_span)}
    run_one = rows["crawl_loop.run_one"]
    # children cover [2, 10] clipped to run_one's interval: 8 s of 10
    assert run_one["wall_ms"] == pytest.approx(10_000)
    assert run_one["self_ms"] == pytest.approx(2_000)
    assert (run_one["jobs"], run_one["tasks"]) == (3, 7)
    assert rows["action.parquet:links"]["self_ms"] == pytest.approx(2_000)


def test_union_ms_merges_overlaps():
    sp = [_span(1, "a", "action", 0, 1), _span(2, "b", "action", 0.5, 2),
          _span(3, "c", "action", 3, 4)]
    assert layers._union_ms(sp) == pytest.approx(3000.0)


# -- seeded query generation ---------------------------------------------------

TEXTS = [
    "alpha beta gamma delta", "beta gamma alpha epsilon & co",
    "delta epsilon zeta alpha beta", "gamma 7 zeta eta theta",
]


def test_query_generation_is_deterministic_per_seed():
    words, pairs = querygen.vocabulary(TEXTS, n_words=6)
    assert all(w.isalpha() for w in words) and "&" not in words
    assert words == querygen.vocabulary(list(TEXTS), n_words=6)[0]
    a = querygen.request_pool(3, words, pairs, n_queries=8, n_renders=2)
    b = querygen.request_pool(3, words, pairs, n_queries=8, n_renders=2)
    assert a == b and len(set(a)) == 10
    assert [k for k, _ in a] == ["Q"] * 8 + ["R"] * 2
    assert querygen.request_pool(4, words, pairs, 8, 2) != a
    s1 = querygen.zipf_sequence(3, 0, 10, 200)
    assert s1 == querygen.zipf_sequence(3, 0, 10, 200)
    assert s1 != querygen.zipf_sequence(3, 1, 10, 200)
    # zipf: the most requested entry is requested far more than the least
    counts = sorted(s1.count(i) for i in range(10))
    assert counts[-1] > 4 * max(1, counts[0])


def test_generated_queries_parse():
    pytest.importorskip("aspseek_spark.functions.queryparse")
    from aspseek_spark.functions.queryparse import parse_query

    words, pairs = querygen.vocabulary(TEXTS, n_words=6)
    for kind, req in querygen.request_pool(1, words, pairs, 10, 2):
        if kind == "Q":
            parse_query(req)


# -- memory from /proc -----------------------------------------------------------

ALLOC = """
import sys, time
buf = bytearray(200 * 1024 * 1024)
for i in range(0, len(buf), 4096):
    buf[i] = 1
sys.stdout.write("ready\\n"); sys.stdout.flush()
time.sleep(30)
"""


def test_tree_sampler_sees_a_child_allocation():
    # a shell parent whose child touches 200 MiB: the tree's peak includes it
    parent = subprocess.Popen(
        ["/bin/sh", "-c", f'exec "{sys.executable}" -c \'{ALLOC}\' & wait'],
        stdout=subprocess.PIPE,
    )
    try:
        assert parent.stdout.readline().strip() == b"ready"
        sampler = TreeRssSampler(parent.pid, interval_s=0.05).start()
        time.sleep(0.5)
        sampler.stop()
        peak_mb = sampler.peak_kb / 1024
        assert 200 <= peak_mb < 400, peak_mb
        assert len(sampler.seen) == 2 and len(sampler.alive()) == 2
    finally:
        for pid in sampler.alive():
            os.kill(pid, 9)
        parent.wait(timeout=10)
    deadline = time.time() + 10
    while sampler.alive() and time.time() < deadline:
        time.sleep(0.05)
    assert sampler.alive() == []


def test_pss_of_this_process_is_plausible():
    with open("/proc/self/status") as f:
        rss = next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
    pss = pss_kb(os.getpid())
    assert 0 < pss <= rss
    assert pss_kb(2 ** 22 + 12345) is None


# -- BENCHMARK.json agrees with the code ---------------------------------------

def test_benchmark_json_declares_the_printed_metrics():
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                        "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    lay = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert lay == metrics.per_layer()
