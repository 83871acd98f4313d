"""Spans around calls into the program's layers, joined to Spark's event
log by span id.

A span records name, start, end, parent span and thread. Spans of kind
"action" wrap PySpark actions; while one runs, the calling thread's Spark
local property ``perfbench.span`` holds its id, so every job, stage and
task the action starts carries the id into the event log. That holds for
actions issued from the program's own thread pools too: the property is
set in whichever thread calls the action, in pinned-thread mode.

The event log is read only after the session has stopped, so it is
complete. ``join_event_log`` sums the Spark figures per span id; jobs
without an id are reported as unattributed."""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "op" | "layer" | "action" | "posthoc"
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is needed only for
    action spans, which tag the jobs they start."""

    def __init__(self, sc=None):
        self._sc = sc
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        self._patches: list[tuple[object, str, object | None]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, kind: str = "layer", **attrs):
        stack = self._stack()
        sp = Span(
            id=next(self._ids), name=name, kind=kind,
            parent=stack[-1].id if stack else None,
            thread=threading.get_ident(), start=time.perf_counter(),
            attrs=attrs,
        )
        stack.append(sp)
        tag = self._sc is not None and kind in ("action", "posthoc")
        if tag:
            prev = self._sc.getLocalProperty(SPAN_PROPERTY)
            self._sc.setLocalProperty(SPAN_PROPERTY, str(sp.id))
        try:
            yield sp
        finally:
            if tag:
                self._sc.setLocalProperty(SPAN_PROPERTY, prev)
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, kind: str = "layer",
             namer=None, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper; ``namer(args,
        kwargs)`` may derive a per-call name and ``attrs_of(args, kwargs)``
        span attributes. Undone by ``unwrap_all``."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            nm = namer(args, kwargs) if namer else name
            at = attrs_of(args, kwargs) if attrs_of else {}
            with self.span(nm, kind, **at):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig if own else None))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:  # was inherited: drop the override
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()


def table_name(path: str) -> str:
    """The table a write lands in: the last path component that is not a
    ``round=N`` or ``fpart=N`` directory, without a ``_vN`` version."""
    parts = [p for p in os.path.normpath(str(path)).split(os.sep) if p]
    for p in reversed(parts):
        if p.startswith("round=") or p.startswith("fpart="):
            continue
        return re.sub(r"_v\d+$", "", p)
    return "?"


def instrument(tracer: Tracer, spark) -> None:
    """Wrap the program's layer entry points and the PySpark actions they
    reach. Module-level functions are wrapped at the name their caller
    resolves them through (``crawl_loop.run_round``, the operator names in
    ``crawl_round``, ``search_job.probe_postings_bucketed``)."""
    from aspseek_spark.plans import crawl_loop, crawl_round, search_job
    from aspseek_spark.plans.crawl_loop import CrawlJob
    from aspseek_spark.plans.search_job import SearchJob
    from aspseek_spark.sources.tables import StateStore

    t = tracer
    t.wrap(CrawlJob, "run_one", "crawl_loop.run_one")
    t.wrap(crawl_loop, "run_round", "crawl_round.run_round")
    for fn, layer in (
        ("schedule_round_split", "politeness"),
        ("fetch_missing_robots", "robots_join"),
        ("robots_allow_filter", "robots_join"),
        ("parse_fetched", "parse"),
        ("with_content_digests", "parse"),
        ("seen_filter_new", "seen"),
        ("probe_add", "seen"),
    ):
        t.wrap(crawl_round, fn, f"{layer}.{fn}")
    t.wrap(StateStore, "write_round", "tables.write_round")
    t.wrap(StateStore, "write_table", "tables.write_table")
    t.wrap(StateStore, "read_seen_bucketed", "tables.read_seen_bucketed")
    t.wrap(SearchJob, "search_query", "search_job.search_query",
           attrs_of=lambda a, k: {"req": a[1]})
    t.wrap(SearchJob, "render_page", "search_job.render_page",
           attrs_of=lambda a, k: {"req": " ".join(a[1])})
    t.wrap(SearchJob, "add_realtime", "search_job.add_realtime")
    t.wrap(SearchJob, "merge_realtime", "search_job.merge_realtime")
    t.wrap(search_job, "probe_postings_bucketed",
           "postings.probe_postings_bucketed",
           attrs_of=lambda a, k: {"path": a[1], "terms": list(a[2])})

    df_cls = type(spark.range(0))
    writer_cls = type(spark.range(0).write)
    # a schema-less parquet read runs a footer job
    t.wrap(
        type(spark.read), "parquet", "action.read_parquet", kind="action",
        namer=lambda a, k: "action.read_parquet:" + table_name(
            a[1] if len(a) > 1 else "?"
        ),
    )
    for act in ("localCheckpoint", "count", "collect"):
        t.wrap(df_cls, act, f"action.{act}", kind="action")
    t.wrap(
        writer_cls, "parquet", "action.parquet", kind="action",
        namer=lambda a, k: "action.parquet:" + table_name(
            a[1] if len(a) > 1 else k.get("path", "?")
        ),
    )
    t.wrap(
        writer_cls, "saveAsTable", "action.saveAsTable", kind="action",
        namer=lambda a, k: "action.saveAsTable:seen_bucketed",
    )


# -- event log -------------------------------------------------------------

@dataclass
class SparkFigures:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0

    def add(self, o: "SparkFigures") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def _span_of(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROPERTY)
    try:
        return int(v) if v is not None else None
    except ValueError:
        return None


def join_event_log(lines) -> tuple[dict[int, SparkFigures], SparkFigures]:
    """Event-log lines → (figures per span id, unattributed figures).

    Jobs are attributed by their JobStart properties, stages by their
    StageSubmitted properties (a stage runs under the job that submitted
    it; stages a job skips are never submitted), tasks by their stage."""
    per: dict[int, SparkFigures] = {}
    none = SparkFigures()
    stage_span: dict[int, int | None] = {}

    def fig(span: int | None) -> SparkFigures:
        return none if span is None else per.setdefault(span, SparkFigures())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            fig(_span_of(ev.get("Properties"))).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            span = _span_of(ev.get("Properties"))
            stage_span[sid] = span
            fig(span).stages += 1
        elif kind == "SparkListenerTaskEnd":
            f = fig(stage_span.get(ev.get("Stage ID")))
            f.tasks += 1
            tm = ev.get("Task Metrics") or {}
            f.run_ms += tm.get("Executor Run Time", 0)
            f.cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
            f.gc_ms += tm.get("JVM GC Time", 0)
            f.input_bytes += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
            f.output_bytes += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            f.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return per, none


def read_event_log(event_dir: str) -> list[str]:
    """Lines of the single application log in ``event_dir``."""
    logs = [
        os.path.join(event_dir, f) for f in os.listdir(event_dir)
        if not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {logs}")
    if logs[0].endswith(".inprogress"):
        raise RuntimeError("event log still in progress: stop the session first")
    with open(logs[0]) as f:
        return f.readlines()
