"""Per-layer metrics of a traced run: spans joined to Spark figures.

Every span is assigned to the timed operation ("op" span) it served:
through its parent chain when it ran in the op's thread, otherwise by
time (the program's own thread pools, and searchd's handler threads,
whose spans are matched to the client session they serve). Spans under
set-up, warm-up, checks and post-hoc counting are left out."""

from __future__ import annotations

from .stats import mean
from .tracing import SparkFigures, Span

MB = 1e6

# Per-layer metrics that exist on every workload's path.
GENERIC = (
    "trace.op_ms", "trace.unattributed_job_ratio",
    "op.driver_ms", "op.action_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_run_ms", "spark.busy_ratio", "spark.gc_ms",
    "spark.shuffle_mb", "spark.input_mb",
)

# Layer metrics that count work rather than time, per workload. A layer off
# a workload's path did no work there and reports 0.
COUNTS = {
    "crawl": (
        "crawl_loop.jobs_per_round", "crawl_loop.stages_per_round",
        "crawl_loop.tasks_per_round",
        "politeness.due_rows", "politeness.scheduled_rows",
        "politeness.scheduled_ratio", "robots_join.hosts_fetched",
        "parse.pages_parsed", "parse.input_mb",
        "seen.candidates", "seen.bloom_maybe", "seen.new_urls",
        "seen.spared_ratio", "seen.false_maybe_ratio",
        "tables.mb_written", "tables.frontier_write_ratio",
    ),
    "search": (
        "search_job.jobs_per_query", "search_job.stages_per_query",
        "search_job.tasks_per_query", "search_job.input_mb_per_query",
        "search_job.qcache_hit_ratio",
        "postings.probe_calls_per_query", "postings.probe_rows_per_query",
    ),
    "refresh": (
        "search_job.segments", "search_job.append_jobs",
        "search_job.append_mb", "search_job.absorb_jobs",
        "search_job.absorb_write_amp",
    ),
}


def json_metric_names() -> list[str]:
    out = list(GENERIC)
    for names in COUNTS.values():
        out += [n for n in names if n not in out]
    return out


def _union_ms(spans: list[Span]) -> float:
    """Wall milliseconds covered by the union of the spans' intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur_e is None or s.start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s.start, s.end
        else:
            cur_e = max(cur_e, s.end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


class Assignment:
    """Spans grouped by the timed op they belong to."""

    def __init__(self, spans: list[Span], timed_from: float):
        self.by_id = {s.id: s for s in spans}
        self.ops = sorted(
            (s for s in spans if s.kind == "op" and s.start >= timed_from
             and not self._under_posthoc(s)),
            key=lambda s: s.start,
        )
        self.of_op: dict[int, list[Span]] = {o.id: [] for o in self.ops}
        self.outside: list[Span] = []
        thread_client = self._handler_threads(spans)
        for s in spans:
            if s.kind == "op":
                continue
            op = self._op_of(s, thread_client)
            (self.of_op[op.id] if op else self.outside).append(s)

    def _chain(self, s: Span):
        while s is not None:
            yield s
            s = self.by_id.get(s.parent)

    def _under_posthoc(self, s: Span) -> bool:
        return any(a.kind == "posthoc" for a in self._chain(s))

    def _handler_threads(self, spans) -> dict[int, int]:
        """searchd handler thread → client id, by majority of requests
        whose text and timing match a client's op."""
        votes: dict[int, dict[int, int]] = {}
        client_ops = [o for o in self.ops if "client" in o.attrs]
        for s in spans:
            if s.parent is not None or "req" not in s.attrs or s.kind == "op":
                continue
            for o in client_ops:
                if o.attrs.get("req") == s.attrs["req"] and (
                    o.start <= s.start <= o.end
                ):
                    v = votes.setdefault(s.thread, {})
                    v[o.attrs["client"]] = v.get(o.attrs["client"], 0) + 1
        return {t: max(v, key=v.get) for t, v in votes.items()}

    def _op_of(self, s: Span, thread_client: dict[int, int]) -> Span | None:
        for a in self._chain(s):
            if a.kind == "posthoc":
                return None
            if a.kind == "op":
                return a if a.id in self.of_op else None
        root = list(self._chain(s))[-1]
        cands = self.ops
        if root.thread in thread_client:
            cid = thread_client[root.thread]
            cands = [o for o in self.ops if o.attrs.get("client") == cid]
        elif any("client" in o.attrs for o in self.ops):
            return None  # concurrent clients: time alone is ambiguous
        for o in cands:
            if o.start <= root.start <= o.end:
                return o
        return None


def _figs(spans: list[Span], per_span: dict[int, SparkFigures]) -> SparkFigures:
    f = SparkFigures()
    for s in spans:
        if s.id in per_span:
            f.add(per_span[s.id])
    return f


def _named(spans: list[Span], prefix: str) -> list[Span]:
    return [s for s in spans if s.name.startswith(prefix)]


def _op_generic(op: Span, spans: list[Span], per_span, cpus: int) -> dict:
    f = _figs(spans, per_span)
    actions = [s for s in spans if s.kind == "action"]
    action_ms = _union_ms(actions)
    return {
        "op.wall_ms": op.ms,
        "op.driver_ms": op.ms - action_ms,
        "op.action_ms": action_ms,
        "spark.jobs_per_op": f.jobs,
        "spark.stages_per_op": f.stages,
        "spark.tasks_per_op": f.tasks,
        "spark.executor_run_ms": f.run_ms,
        "spark.busy_ratio": f.run_ms / (op.ms * cpus) if op.ms else 0.0,
        "spark.gc_ms": f.gc_ms,
        "spark.shuffle_mb": f.shuffle_bytes / MB,
        "spark.input_mb": f.input_bytes / MB,
    }


def _crawl_round(op, spans, per_span, res) -> dict:
    r = op.attrs["round"]
    f = _figs(spans, per_span)
    run_one = _named(spans, "crawl_loop.run_one")[0]
    run_round = _named(spans, "crawl_round.run_round")[0]
    write = _named(spans, "tables.write_round")[0]
    main = run_round.thread
    ckpts = sorted(
        (s for s in spans if s.name == "action.localCheckpoint"
         and s.thread == main and run_round.start <= s.start <= run_round.end),
        key=lambda s: s.start,
    )
    leftover = [
        s for s in spans if s.name == "action.localCheckpoint"
        and s.thread != main
    ]
    in_round = [
        s for s in spans if s.kind == "action" and s.thread == main
        and run_round.start <= s.start <= run_round.end
    ]
    schedule, parse, seen = (ckpts + [None, None, None])[:3]
    writes = [s for s in spans if s.name.startswith("action.parquet:")
              or s.name.startswith("action.saveAsTable:")]

    def w(*tables):
        return _union_ms([s for s in writes
                          if s.name.split(":", 1)[1] in tables])

    m = res["rounds"][str(r)]
    ph = res["posthoc"].get(str(r), {})
    cand, maybe = ph.get("candidates", 0), ph.get("bloom_maybe", 0)
    return {
        "crawl_loop.round_ms": run_one.ms,
        "crawl_loop.jobs_per_round": f.jobs,
        "crawl_loop.stages_per_round": f.stages,
        "crawl_loop.tasks_per_round": f.tasks,
        "crawl_loop.after_write_ms": (run_one.end - write.end) * 1000.0,
        "crawl_round.plan_ms": run_round.ms - _union_ms(in_round),
        "crawl_round.schedule_ms": schedule.ms if schedule else 0.0,
        "crawl_round.fetch_parse_ms": parse.ms if parse else 0.0,
        "crawl_round.seen_ms": seen.ms if seen else 0.0,
        "crawl_round.leftover_wait_ms": max(
            0.0, (max(s.end for s in leftover) - seen.end) * 1000.0
        ) if leftover and seen else 0.0,
        "politeness.due_rows": ph.get("due_rows", 0),
        "politeness.scheduled_rows": m["urls_scheduled"],
        "politeness.scheduled_ratio": (
            m["urls_scheduled"] / ph["due_rows"] if ph.get("due_rows") else 0.0
        ),
        "robots_join.hosts_fetched": ph.get("hosts_fetched", 0),
        "parse.pages_parsed": ph.get("pages_parsed", 0),
        "parse.input_mb": (
            per_span[parse.id].input_bytes / MB
            if parse and parse.id in per_span else 0.0
        ),
        "seen.candidates": cand,
        "seen.bloom_maybe": maybe,
        "seen.new_urls": ph.get("new_urls", 0),
        "seen.spared_ratio": (cand - maybe) / cand if cand else 0.0,
        "seen.false_maybe_ratio": (
            ph.get("maybe_new", 0) / maybe if maybe else 0.0
        ),
        "tables.write_ms": write.ms,
        "tables.write_frontier_ms": w("frontier_rounds"),
        "tables.write_bloom_ms": w("bloom"),
        "tables.write_seen_ms": w("seen_delta", "seen_bucketed"),
        "tables.early_write_ms": w("fetched", "links"),
        "tables.mb_written": _figs(writes, per_span).output_bytes / MB,
        "tables.frontier_write_ratio": (
            m["frontier_bytes_written"] / m["frontier_bytes_total"]
            if m["frontier_bytes_total"] else 0.0
        ),
    }


def _query(op, spans, per_span, probe_rows) -> dict:
    f = _figs(spans, per_span)
    server = [s for s in spans if op.thread != s.thread]
    out = {
        "search_job.jobs_per_query": f.jobs,
        "search_job.stages_per_query": f.stages,
        "search_job.tasks_per_query": f.tasks,
        "search_job.input_mb_per_query": f.input_bytes / MB,
    }
    if server:
        span_ms = (max(s.end for s in server) - min(s.start for s in server))
        out["searchd.overhead_ms"] = op.ms - span_ms * 1000.0
    plan = _named(spans, "search_job.search_query")
    if plan:
        out["search_job.plan_ms"] = sum(s.ms for s in plan)
        out["search_job.collect_ms"] = sum(
            s.ms for s in spans if s.name == "action.collect"
        )
        probes = _named(spans, "postings.probe_postings_bucketed")
        out["postings.probe_calls_per_query"] = len(probes)
        out["postings.probe_rows_per_query"] = sum(
            probe_rows.get(p.attrs["path"], {}).get(t.lower(), 0)
            for p in probes for t in set(p.attrs["terms"])
        )
    render = _named(spans, "search_job.render_page")
    if render:
        out["search_job.render_ms"] = sum(s.ms for s in render)
    if "fanout" in op.attrs:
        out["search_job.segments"] = op.attrs["fanout"]
    return out


def _refresh_update(op, spans, per_span) -> dict:
    f = _figs(spans, per_span)
    if op.name == "refresh.append":
        return {
            "search_job.append_ms": op.ms,
            "search_job.append_jobs": f.jobs,
            "search_job.append_mb": f.output_bytes / MB,
            "_fetched_mb": _figs(
                [s for s in spans if s.name == "action.parquet:fetched"],
                per_span,
            ).output_bytes / MB,
        }
    return {
        "search_job.absorb_ms": op.ms,
        "search_job.absorb_jobs": f.jobs,
        "_absorb_mb": f.output_bytes / MB,
    }


def _avg(rows: list[dict]) -> dict:
    keys = sorted({k for r in rows for k in r})
    return {k: mean([r[k] for r in rows if k in r]) for k in keys}


def layer_metrics(workload: str, res: dict, spans: list[Span],
                  per_span: dict[int, SparkFigures],
                  unattributed: SparkFigures, cpus: int,
                  probe_rows: dict | None = None) -> dict:
    """{"metrics": every JSON per-layer metric, "report": every layer
    metric this workload reaches (means over its timed ops)}."""
    asg = Assignment(spans, res["timed_from"])
    probe_rows = probe_rows or {}
    generic, detail = [], []
    for op in asg.ops:
        sp = asg.of_op[op.id]
        generic.append(_op_generic(op, sp, per_span, cpus))
        if op.name == "crawl.round":
            detail.append(_crawl_round(op, sp, per_span, res))
        elif op.name.startswith("searchd."):
            detail.append(_query(op, sp, per_span, probe_rows))
        else:
            detail.append(_refresh_update(op, sp, per_span))
    report = _avg(generic)
    report["trace.op_ms"] = res["op_ms"]
    if workload == "refresh":
        appends = [d for d in detail if "search_job.append_ms" in d]
        absorbs = [d for d in detail if "search_job.absorb_ms" in d]
        queries = [d for d in detail if "search_job.segments" in d]
        report.update(_avg(appends))
        report.update(_avg(absorbs))
        report.update(_avg(queries))
        fetched_mb = sum(d["_fetched_mb"] for d in appends)
        absorbed_mb = sum(d["_absorb_mb"] for d in absorbs)
        report["search_job.absorb_write_amp"] = (
            absorbed_mb / fetched_mb if fetched_mb else 0.0
        )
        for k in ("_fetched_mb", "_absorb_mb"):
            report.pop(k, None)
    else:
        report.update(_avg(detail))
    if workload == "search":
        report["search_job.qcache_hit_ratio"] = (
            res["report"]["qcache_hit_ratio"] or 0.0
        )
    total = _figs(spans, per_span)
    total.add(unattributed)
    report["trace.unattributed_job_ratio"] = (
        unattributed.jobs / total.jobs if total.jobs else 0.0
    )
    report["trace.unattributed_jobs"] = unattributed.jobs
    report["trace.jobs_total"] = total.jobs
    report["trace.jobs_outside_ops"] = _figs(asg.outside, per_span).jobs
    report["trace.ops"] = len(asg.ops)
    metrics = {
        n: float(report.get(n) or 0.0) for n in json_metric_names()
    }
    spans_table = _span_table(asg, per_span)
    return {"metrics": metrics, "report": report, "spans": spans_table}


def _logical_children(op: Span, spans: list[Span]) -> dict[int, list[Span]]:
    """Parent → children for one op. A span that opened a thread's stack
    (the program's pool threads, searchd's handler threads) is the child
    of the innermost span of the op's own thread that was open when it
    started; the op itself if none was."""
    own = [op] + [s for s in spans if s.thread == op.thread]
    by_id = {o.id: o for o in own}

    def depth(o: Span) -> int:
        return 0 if o.parent not in by_id else 1 + depth(by_id[o.parent])

    children: dict[int, list[Span]] = {}
    for s in spans:
        parent = s.parent
        if parent is None:
            enclosing = [o for o in own if o.start <= s.start <= o.end
                         and o is not s]
            parent = max(enclosing, default=op, key=depth).id
        children.setdefault(parent, []).append(s)
    return children


def _clipped(spans: list[Span], lo: float, hi: float) -> list[Span]:
    return [
        Span(s.id, s.name, s.kind, s.parent, s.thread, max(s.start, lo),
             min(s.end, hi))
        for s in spans if s.end > lo and s.start < hi
    ]


def _span_table(asg: Assignment, per_span) -> list[dict]:
    """Per span name over the timed ops: calls, wall ms, self ms (wall
    minus the time its child spans cover) and the Spark figures of the
    span's whole subtree."""
    rows: dict[str, dict] = {}
    for op in asg.ops:
        spans = asg.of_op[op.id]
        children = _logical_children(op, spans)

        def subtree(s: Span) -> list[Span]:
            out = [s]
            for c in children.get(s.id, []):
                out += subtree(c)
            return out

        for s in [op] + spans:
            r = rows.setdefault(s.name, {
                "name": s.name, "calls": 0, "wall_ms": 0.0, "self_ms": 0.0,
                "spark": SparkFigures(),
            })
            r["calls"] += 1
            r["wall_ms"] += s.ms
            r["self_ms"] += s.ms - _union_ms(
                _clipped(children.get(s.id, []), s.start, s.end)
            )
            r["spark"].add(_figs(subtree(s), per_span))
    out = []
    for r in sorted(rows.values(), key=lambda r: -r["wall_ms"]):
        f = r.pop("spark")
        r.update(jobs=f.jobs, stages=f.stages, tasks=f.tasks,
                 run_ms=f.run_ms, gc_ms=f.gc_ms,
                 input_mb=f.input_bytes / MB, output_mb=f.output_bytes / MB,
                 shuffle_mb=f.shuffle_bytes / MB)
        out.append(r)
    return out


def probe_row_counts(spark, spans: list[Span]) -> dict[str, dict[str, int]]:
    """Rows each probed index directory holds per probed word (one grouped
    count per directory, run after timing)."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    terms: dict[str, set] = {}
    for s in spans:
        if s.name == "postings.probe_postings_bucketed":
            terms.setdefault(s.attrs["path"], set()).update(
                t.lower() for t in s.attrs["terms"]
            )
    out: dict[str, dict[str, int]] = {}
    for path, words in terms.items():
        try:
            rows = (
                spark.read.parquet(path)
                .filter(F.col("word").isin(sorted(words)))
                .groupBy("word").count().collect()
            )
        except AnalysisException:  # a segment with no part files
            rows = []
        out[path] = {r["word"]: int(r["count"]) for r in rows}
    return out
