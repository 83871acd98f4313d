"""The three workloads, each run in its own process and SparkSession.

    python3 -m benchlib.workloads --workload crawl --seed 1 --seconds 15 \
        --trace 0 --fixture DIR --work DIR --out result.json --spawn-time T

Each workload drives the program only through its public entry points,
times its operations with tracing off (or on, for the traced run), checks
every result against an oracle outside the timed window, and writes one
JSON result. ``run.py`` launches it; see perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext

from . import fixtures, querygen
from .session import build_session, nproc
from .stats import summary

SETUP_REPEATS = 3
SEARCH_CLIENTS = 2
SEARCH_BUCKETS = 16
# Q samples wanted per search run: p90 needs 100 (10 beyond it)
SEARCH_MIN_Q = 100
REFRESH_MAIN_ROUNDS = 6  # main index = rounds 1-6; cycles append 7-8
REFRESH_BATCH = 1  # Q requests after each append
CRAWL_WARMUP_ROUNDS = 1
CRAWL_MIN_TIMED_ROUNDS = 2


class Ctx:
    def __init__(self, spark, tracer, fixture: str, work: str, seed: int,
                 seconds: float, spawn_time: float):
        self.spark = spark
        self.tracer = tracer
        self.fixture = fixture
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.spawn_time = spawn_time
        self.setup_times: list[float] = []
        self.first_timed_at: float | None = None
        self.timed_from: float | None = None
        self.marks: list[tuple[str, float]] = [("spawn", spawn_time)]

    def mark(self, label: str) -> None:
        """End of a phase, for the report's wall-time breakdown."""
        self.marks.append((label, time.time()))

    def phases(self) -> dict[str, float]:
        return {
            label: t - prev
            for (label, t), (_, prev) in zip(self.marks[1:], self.marks)
        }

    def span(self, name: str, kind: str = "op", **attrs):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, kind, **attrs)

    def repeat_setup(self, setup_once):
        """Run the workload's set-up SETUP_REPEATS times from scratch and
        keep the last result; setup_s counts the median repeat."""
        out = None
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            with self.span("setup", "posthoc"):
                out = setup_once(i)
            self.setup_times.append(time.perf_counter() - t)
        self.mark("setups")
        return out

    def start_timing(self) -> None:
        self.mark("warmup")
        self.first_timed_at = time.time()
        self.timed_from = time.perf_counter()

    def setup_s(self) -> float:
        """Process start → first timed operation, with the repeated
        set-ups counted once, at their median."""
        total = self.first_timed_at - self.spawn_time
        return (
            total - sum(self.setup_times)
            + statistics.median(self.setup_times)
        )


# -- oracles -----------------------------------------------------------------

class DocsOracle:
    """DuckDB over the fixture's fetched rows, with the index's document
    rules: the latest 200 row with text per URL, minus URLs whose latest
    row is 404/410. Queries go through ``postings.query_oracle_sql``, the
    generator built from the same parsed AST as the Spark evaluator."""

    def __init__(self, fetched_path: str, max_round: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"""
            CREATE TABLE docs AS
            WITH f AS (
                SELECT * FROM read_parquet('{fetched_path}')
                WHERE round <= {int(max_round)}
            ), good AS (
                SELECT url_hash64 AS doc_id, arg_max(text, round) AS text
                FROM f WHERE status = 200 AND text IS NOT NULL
                GROUP BY url_hash64
            ), gone AS (
                SELECT url_hash64 FROM f GROUP BY url_hash64
                HAVING arg_max(status, round) IN (404, 410)
            )
            SELECT * FROM good
            WHERE doc_id NOT IN (SELECT url_hash64 FROM gone)
        """)

    def top(self, q: str, limit: int = 100) -> list[tuple[int, int]]:
        """What searchd's ``Q`` serves: the first ``limit`` rows by
        (score desc, doc asc)."""
        from aspseek_spark.functions.queryparse import parse_query
        from aspseek_spark.operators.postings import query_oracle_sql

        sql = query_oracle_sql(parse_query(q), table="docs")
        rows = self.con.execute(
            f"SELECT doc_id, score FROM ({sql}) o "
            f"ORDER BY score DESC, doc_id ASC LIMIT {int(limit)}"
        ).fetchall()
        return [(int(d), int(s)) for d, s in rows]

    def any_count(self, terms: list[str]) -> int:
        """Documents holding any of ``terms``: the rendered page's total."""
        from aspseek_spark.functions.queryparse import parse_query
        from aspseek_spark.operators.postings import query_oracle_sql

        sql = query_oracle_sql(parse_query(" | ".join(terms)), table="docs")
        return int(self.con.execute(f"SELECT count(*) FROM ({sql}) o").fetchone()[0])


def render_ok(page: str, total: int) -> bool:
    if total == 0:
        return "No documents match" in page
    return page.startswith("<html>") and f"<p>{total} documents found." in page


def _vocab(fixture: str, max_round: int):
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(fixture, "fetched.parquet"), columns=["round", "text"]
    )
    texts = [
        x for r, x in zip(t["round"].to_pylist(), t["text"].to_pylist())
        if x and r <= max_round
    ]
    return querygen.vocabulary(texts)


# -- crawl ---------------------------------------------------------------------

def crawl(ctx: Ctx) -> dict:
    from aspseek_spark.plans.crawl_loop import CrawlJob
    from aspseek_spark.sources.tables import StateStore

    spark = ctx.spark
    cfg = fixtures.crawl_config(nproc())
    web = os.path.join(ctx.fixture, "web")

    def setup_once(i: int):
        store = StateStore(os.path.join(ctx.work, f"state{i}"), spark)
        job = CrawlJob(
            spark, store, cfg,
            spark.read.parquet(f"{web}/pages.parquet"),
            spark.read.parquet(f"{web}/robots_src.parquet"),
        )
        job.ensure_init(spark.read.parquet(f"{web}/seeds.parquet"))
        return store, job

    store, job = ctx.repeat_setup(setup_once)
    metrics = {}
    for r in range(1, CRAWL_WARMUP_ROUNDS + 1):
        with ctx.span("warmup", "posthoc"):
            metrics[r] = job.run_one(r)

    ctx.start_timing()
    timed: list[tuple[int, float]] = []
    posthoc: dict[int, dict] = {}
    r = CRAWL_WARMUP_ROUNDS + 1
    while r <= fixtures.CRAWL_ROUNDS and (
        len(timed) < CRAWL_MIN_TIMED_ROUNDS
        or sum(dt for _, dt in timed) < ctx.seconds
    ):
        t = time.perf_counter()
        with ctx.span("crawl.round", "op", round=r):
            metrics[r] = job.run_one(r)
        timed.append((r, time.perf_counter() - t))
        if ctx.tracer is not None:
            # between rounds: round r-1's frontier and bloom are retained
            # only until round r+1 commits
            with ctx.span("posthoc", "posthoc"):
                posthoc[r] = _crawl_round_counts(spark, store, cfg, r)
        r += 1

    ctx.mark("timed")
    # correctness, outside the timed window
    oracle = fixtures.load_oracle(ctx.fixture)
    last = max(metrics)
    with ctx.span("check", "posthoc"):
        rows = store.read_fetched(last).select("round", "url_canon").collect()
    fetched: dict[int, set] = {}
    for row in rows:
        fetched.setdefault(row["round"], set()).add(row["url_canon"])
    wrong = {}
    for rr, m in metrics.items():
        want = oracle["rounds"][rr - 1]
        got = {k: m[k] for k in ("urls_scheduled", "new_urls", "frontier_size")}
        if any(got[k] != want[k] for k in got) or fetched.get(rr, set()) != set(
            oracle["fetched_urls"].get(str(rr), [])
        ):
            wrong[rr] = {"got": got, "want": {k: want[k] for k in got}}

    secs = [dt for _, dt in timed]
    urls = sum(
        metrics[rr]["urls_scheduled"] + metrics[rr]["new_urls"]
        for rr, _ in timed
    )
    return {
        "attempted": len(timed),
        "failed": sum(1 for rr, _ in timed if rr in wrong),
        "correct": not wrong,
        "mismatches": wrong,
        "op_ms": 1000.0 * sum(secs) / len(secs),
        "report": {
            "round_s": summary(secs),
            "urls_per_s": urls / sum(secs),
            "timed_rounds": [rr for rr, _ in timed],
            "timed_round_s": [round(dt, 3) for _, dt in timed],
            "urls_timed": urls,
        },
        "rounds": {str(rr): metrics[rr] for rr in metrics},
        "posthoc": {str(k): v for k, v in posthoc.items()},
    }


def _crawl_round_counts(spark, store, cfg, r: int) -> dict:
    """Row counts of round ``r`` read from its committed tables (traced run
    only, outside the round's span): due frontier rows, robots fetches,
    parsed pages, outlink candidates, bloom maybe-hits and new URLs."""
    from pyspark.sql import functions as F

    from aspseek_spark.operators.seen import bloom_probe

    due = store.read_frontier(r - 1).filter(
        F.col("next_fetch_unix") <= F.lit(cfg.round_ts_unix(r))
    ).count()
    hosts = store.read_robots(r).count() - store.read_robots(r - 1).count()
    fetched_r = store.read_fetched(r).filter(F.col("round") == r)
    parsed = fetched_r.filter(F.col("status") != 404).count()
    dst = (
        store.read_links(r).filter(F.col("round") == r)
        .select(F.col("dst_hash64").alias("url_hash64")).distinct()
    )
    # every candidate is either already seen or new this round, so the
    # seen table recovers the candidates' URLs from the links' hashes
    cand = store.read_seen(r).join(dst, "url_hash64").select(
        "url_canon", "round_added"
    )
    probed = bloom_probe(cand, store.read_bloom(r - 1), cfg)
    agg = probed.agg(
        F.count("*").alias("cand"),
        F.sum(F.col("maybe_seen").cast("int")).alias("maybe"),
        F.sum((F.col("round_added") == r).cast("int")).alias("new"),
        F.sum(
            (F.col("maybe_seen") & (F.col("round_added") == r)).cast("int")
        ).alias("maybe_new"),
    ).collect()[0]
    return {
        "due_rows": due,
        "hosts_fetched": hosts,
        "pages_parsed": parsed,
        "candidates": int(agg["cand"] or 0),
        "bloom_maybe": int(agg["maybe"] or 0),
        "new_urls": int(agg["new"] or 0),
        "maybe_new": int(agg["maybe_new"] or 0),
    }


# -- search ------------------------------------------------------------------

def _client_loop(ctx: Ctx, host: str, port: int, pool, seq, stop,
                 records: list, cid: int) -> None:
    from aspseek_spark.plans.searchd import SearchClient

    client = SearchClient(host, port, timeout=120.0)
    try:
        for idx in seq:
            if stop():
                return
            kind, req = pool[idx]
            t0 = time.perf_counter()
            err = None
            out = None
            with ctx.span(f"searchd.{kind}", "op", req=req, client=cid):
                try:
                    out = (
                        client.query(req) if kind == "Q"
                        else client.render(req.split())
                    )
                except (RuntimeError, ConnectionError, OSError) as e:
                    err = str(e)
            records.append({
                "kind": kind, "req": req,
                "ms": 1000.0 * (time.perf_counter() - t0),
                "out": out, "err": err,
            })
    finally:
        client.close()


def _run_clients(ctx, host, port, pool, seqs, stop,
                 records: list | None = None) -> list[dict]:
    """One closed-loop client thread per sequence; returns the records."""
    records = [] if records is None else records
    threads = [
        threading.Thread(
            target=_client_loop,
            args=(ctx, host, port, pool, seq, stop, records, cid),
        )
        for cid, seq in enumerate(seqs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        if t.is_alive():
            raise RuntimeError("search client did not finish")
    return records


def _check_requests(records, oracle: DocsOracle) -> set[int]:
    """Indexes of records that failed or differ from the oracle."""
    want_q: dict[str, list] = {}
    want_r: dict[str, int] = {}
    bad = set()
    for i, rec in enumerate(records):
        if rec["err"] is not None:
            bad.add(i)
            continue
        if rec["kind"] == "Q":
            if rec["req"] not in want_q:
                want_q[rec["req"]] = oracle.top(rec["req"])
            if rec["out"] != want_q[rec["req"]]:
                bad.add(i)
        else:
            if rec["req"] not in want_r:
                want_r[rec["req"]] = oracle.any_count(rec["req"].split())
            if not render_ok(rec["out"], want_r[rec["req"]]):
                bad.add(i)
    return bad


def search(ctx: Ctx) -> dict:
    from aspseek_spark.plans.search_job import SearchJob
    from aspseek_spark.plans.searchd import SearchDaemon

    spark = ctx.spark
    fetched_path = os.path.join(ctx.fixture, "fetched.parquet")

    def setup_once(i: int):
        sj = SearchJob(
            spark, os.path.join(ctx.work, f"index{i}"), n_buckets=SEARCH_BUCKETS
        )
        sj.build_from_fetched(spark.read.parquet(fetched_path))
        return sj

    sj = ctx.repeat_setup(setup_once)
    words, pairs = _vocab(ctx.fixture, fixtures.N_ROUNDS)
    pool = querygen.request_pool(ctx.seed, words, pairs)
    daemon = SearchDaemon(sj)
    host, port = daemon.start()
    try:
        # warm-up: one full pass over the pool, split over the clients
        half = [list(range(c, len(pool), SEARCH_CLIENTS))
                for c in range(SEARCH_CLIENTS)]
        with ctx.span("warmup", "posthoc"):
            warm = _run_clients(ctx, host, port, pool, half, lambda: False)
        qc0 = (sj.qcache_hits, sj.qcache_misses)

        seqs = [
            querygen.zipf_sequence(ctx.seed, c, len(pool), 100_000)
            for c in range(SEARCH_CLIENTS)
        ]
        ctx.start_timing()
        t0 = time.perf_counter()
        records: list[dict] = []

        def stop() -> bool:
            el = time.perf_counter() - t0
            n_q = sum(1 for r in records if r["kind"] == "Q")
            return el >= 3 * ctx.seconds or (
                el >= ctx.seconds and n_q >= SEARCH_MIN_Q
            )

        _run_clients(ctx, host, port, pool, seqs, stop, records)
        wall = time.perf_counter() - t0
        qc1 = (sj.qcache_hits, sj.qcache_misses)
    finally:
        daemon.stop()

    ctx.mark("timed")
    oracle = DocsOracle(fetched_path, fixtures.N_ROUNDS)
    bad = _check_requests(records, oracle)
    bad_warm = _check_requests(warm, oracle)
    q_ms = [r["ms"] for r in records if r["kind"] == "Q"]
    r_ms = [r["ms"] for r in records if r["kind"] == "R"]
    qs = summary(q_ms)
    hits, misses = qc1[0] - qc0[0], qc1[1] - qc0[1]
    return {
        "attempted": len(records),
        "failed": len(bad),
        "correct": not bad and not bad_warm,
        "op_ms": qs["p50"] if qs["p50"] is not None else qs["mean"],
        "report": {
            "query_ms": qs,
            "render_ms": summary(r_ms),
            "queries_per_s": len(records) / wall,
            "distinct_requests": len({(r["kind"], r["req"]) for r in records}),
            "qcache_hit_ratio": hits / (hits + misses) if hits + misses else None,
        },
    }


# -- refresh -------------------------------------------------------------------

def refresh(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from aspseek_spark.plans.search_job import SearchJob
    from aspseek_spark.plans.searchd import SearchClient, SearchDaemon

    spark = ctx.spark
    fetched_path = os.path.join(ctx.fixture, "fetched.parquet")
    fetched = spark.read.parquet(fetched_path)
    rounds_rt = list(range(REFRESH_MAIN_ROUNDS + 1, fixtures.N_ROUNDS + 1))

    def setup_once(i: int):
        root = os.path.join(ctx.work, f"main{i}")
        sj = SearchJob(spark, root, n_buckets=SEARCH_BUCKETS,
                       rt_max_segments=None)
        sj.build_from_fetched(
            fetched.filter(F.col("round") <= REFRESH_MAIN_ROUNDS)
        )
        return root

    main_root = ctx.repeat_setup(setup_once)
    words, pairs = _vocab(ctx.fixture, fixtures.N_ROUNDS)
    batch = [
        req for kind, req in querygen.request_pool(ctx.seed, words, pairs)
        if kind == "Q"
    ][:REFRESH_BATCH]

    def cycle(i: int, appends: list[int]) -> dict:
        """Restart from the main generation: a Q batch on the main index,
        then ``appends`` rounds appended one at a time with a Q batch after
        each, then absorb."""
        root = os.path.join(ctx.work, f"cycle{i}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(main_root, root)
        sj = SearchJob(spark, root, n_buckets=SEARCH_BUCKETS,
                       rt_max_segments=None)
        daemon = SearchDaemon(sj)
        host, port = daemon.start()
        client = SearchClient(host, port, timeout=120.0)
        out = {"append_s": [], "absorb_s": None, "q": [], "pre": None,
               "post": None, "errors": 0, "op_s": 0.0}
        try:
            # fan-out 0 (main index only), then one more segment per step
            for k in range(len(appends) + 1):
                if k:
                    t = time.perf_counter()
                    with ctx.span("refresh.append", "op", fanout=k):
                        sj.add_realtime(
                            fetched.filter(F.col("round") == appends[k - 1])
                        )
                    out["append_s"].append(time.perf_counter() - t)
                res = []
                for q in batch:
                    t = time.perf_counter()
                    with ctx.span("searchd.Q", "op", req=q, fanout=k):
                        try:
                            got = client.query(q)
                        except (RuntimeError, ConnectionError, OSError):
                            got = None
                            out["errors"] += 1
                    out["q"].append({
                        "req": q, "fanout": k, "out": got,
                        "ms": 1000.0 * (time.perf_counter() - t),
                    })
                    res.append(got)
                # replies at the highest fan-out, compared after the absorb
                out["pre"] = res
            t = time.perf_counter()
            with ctx.span("refresh.absorb", "op"):
                sj.merge_realtime()
            out["absorb_s"] = time.perf_counter() - t
            with ctx.span("check", "posthoc"):
                out["post"] = [client.query(q) for q in batch]
        finally:
            client.close()
            daemon.stop()
        out["op_s"] = (
            sum(out["append_s"]) + out["absorb_s"]
            + sum(q["ms"] for q in out["q"]) / 1000.0
        )
        return out

    # warm-up: the query path on the main index (the set-up repeats have
    # already run the index-build path an append takes)
    with ctx.span("warmup", "posthoc"):
        warm = cycle(0, [])
    ctx.start_timing()
    cycles = []
    i = 1
    while not cycles or sum(c["op_s"] for c in cycles) < ctx.seconds:
        cycles.append(cycle(i, rounds_rt))
        i += 1

    ctx.mark("timed")
    oracles = {
        k: DocsOracle(fetched_path, REFRESH_MAIN_ROUNDS + k)
        for k in range(len(rounds_rt) + 1)
    }
    want = {
        (k, q): oracles[k].top(q)
        for k in oracles for q in batch
    }
    failed = 0
    for c in [warm] + cycles:
        bad = c["errors"] + sum(
            1 for q in c["q"] if q["out"] != want[(q["fanout"], q["req"])]
        )
        bad += sum(1 for a, b in zip(c["pre"], c["post"]) if a != b)
        c["bad"] = bad
        if c is not warm:
            failed += bad
    q_ms = [q["ms"] for c in cycles for q in c["q"]]
    appends = [a for c in cycles for a in c["append_s"]]
    absorbs = [c["absorb_s"] for c in cycles]
    return {
        "attempted": sum(len(c["q"]) + len(c["append_s"]) + 1 for c in cycles),
        "failed": failed,
        "correct": failed == 0 and warm["bad"] == 0,
        "op_ms": 1000.0 * sum(c["op_s"] for c in cycles) / len(cycles),
        "report": {
            "cycle_s": summary([c["op_s"] for c in cycles]),
            "query_ms": summary(q_ms),
            "query_ms_by_fanout": {
                str(k): summary([
                    q["ms"] for c in cycles for q in c["q"] if q["fanout"] == k
                ])
                for k in range(len(rounds_rt) + 1)
            },
            "append_s": summary(appends),
            "absorb_s": summary(absorbs),
        },
    }


WORKLOADS = {"crawl": crawl, "search": search, "refresh": refresh}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    a = ap.parse_args(argv)

    from .tracing import Tracer, instrument, join_event_log, read_event_log

    event_dir = os.path.join(a.work, "events") if a.trace else None
    spark = build_session(a.work, event_dir)
    tracer = None
    if a.trace:
        tracer = Tracer(spark.sparkContext)
        instrument(tracer, spark)
    ctx = Ctx(spark, tracer, a.fixture, a.work, a.seed, a.seconds,
              a.spawn_time)
    ctx.mark("session")
    probe_rows = None
    try:
        res = WORKLOADS[a.workload](ctx)
        ctx.mark("check")
        if tracer is not None:
            from .layers import probe_row_counts

            with tracer.span("posthoc", "posthoc"):
                probe_rows = probe_row_counts(spark, tracer.spans)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        spark.stop()
    ctx.mark("stop")
    res["phases_s"] = ctx.phases()
    res["setup_s"] = ctx.setup_s()
    res["setup_repeats_s"] = ctx.setup_times
    res["timed_from"] = ctx.timed_from
    if tracer is not None:
        from .layers import layer_metrics

        per_span, unattributed = join_event_log(read_event_log(event_dir))
        res["layers"] = layer_metrics(
            a.workload, res, tracer.spans, per_span, unattributed, nproc(),
            probe_rows,
        )
    with open(a.out, "w") as f:
        json.dump(res, f, default=str)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
