"""One crawl round as a micro-batch DataFrame pipeline (SURVEY.md §3.1).

Reference control flow (one pass of index's thread pool over due URLs,
[R:src/index.cpp]) re-expressed as the declarative plan of SURVEY.md §3.1:

  frontier scan → robots ensure/filter → politeness schedule → simulated
  fetch join → parse (Arrow UDF) → outlink candidates → URL-seen test →
  state updates

Every nondeterminism source is pinned (§7 hard-part 1): ordering keys always
(depth, next_fetch_unix, url_canon); in-round candidate dedup keeps
min(struct(depth, origin)); round timestamps are pure functions of round_id.
The oracle crawler (oracle/model_crawler.py) implements the exact same
rules, and tests assert identical fetch order + seen set.

Scale notes (round-2 revision — every unbounded broadcast removed):
  - the ``html`` column is dropped immediately after parse so page bytes
    never shuffle;
  - the robots cache is semi-joined down to THIS ROUND'S hosts before any
    broadcast — the full cache (~10^7-10^8 hosts at design scale) is only
    scanned, never shuffled or broadcast whole;
  - leftover (due-but-over-budget) rows are derived from the politeness
    window ranks, not an anti-join against a broadcast of the batch;
  - the fetch join is strategy-switched on the MEASURED batch size:
    broadcast into the pages scan below ``config.fetch_broadcast_limit``
    (pages never shuffles), shuffle-hash join above it — at real scale
    ``pages`` is a BUCKETED table on url_canon, so the bucketed side still
    does not shuffle (see tests/test_bucketed_join.py for the plan proof);
  - the seen test's shuffle is bounded by the bloom partition count, and
    all bloom hashing is JVM-side (operators/seen.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.textextract import PY_WS_CLASS
from ..operators.canonicalize import with_canonical
from ..operators.parse import parse_fetched, with_content_digests
from ..operators.politeness import schedule_round_split
from ..operators.robots_join import fetch_missing_robots, robots_allow_filter
from ..operators.seen import probe_add, seen_filter_new


@dataclass
class RoundResult:
    frontier: DataFrame
    seen_delta: DataFrame
    bloom: DataFrame
    robots_delta: DataFrame
    fetched: DataFrame
    round_ts: int
    # persisted intermediates to unpersist after the snapshot commit
    persisted: list = None
    scheduled: DataFrame = None
    new_urls: DataFrame = None
    n_sched: int = 0  # materialized while choosing the fetch-join strategy
    # due-but-over-budget rows (checkpointed): the loop derives next
    # round's adaptive per-host salts from their per-host counts
    leftover: DataFrame = None


def init_state(
    spark: SparkSession, seeds: DataFrame, config: CrawlConfig
) -> RoundResult:
    """Round-0 state: seeds → frontier + seen + probe state (SRC5 seed
    insertion). The probe state is bloom blobs or cuckoo tables per
    config.probe — the rest of the round never looks inside it."""
    from ..operators.seen import probe_add
    from ..sources.tables import probe_state_schema

    seeded = (
        with_canonical(seeds, "url")
        .select("url_canon", "url_hash64", "hash32", "host")
        .dropDuplicates(["url_canon"])
        .withColumn("depth", F.lit(0))
        .withColumn("next_fetch_unix", F.lit(config.round_ts_unix(0)).cast("long"))
        .withColumn("round_added", F.lit(0))
        .withColumn("origin_hash64", F.lit(None).cast("long"))
        .withColumn("tag", F.lit(config.tag))
        .withColumn("last_fetch_unix", F.lit(None).cast("long"))
        .withColumn("last_etag", F.lit(None).cast("string"))
        .select(
            "url_canon", "url_hash64", "hash32", "host", "depth",
            "next_fetch_unix", "round_added", "origin_hash64", "tag",
            "last_fetch_unix", "last_etag",
        )
    )
    empty_state = spark.createDataFrame([], probe_state_schema(config))
    bloom = probe_add(seeded, empty_state, config)
    seen_delta = seeded.select("url_canon", "url_hash64", "hash32", "round_added")
    from ..operators.robots_join import empty_robots

    return RoundResult(
        frontier=seeded,
        seen_delta=seen_delta,
        bloom=bloom,
        robots_delta=empty_robots(spark),
        fetched=None,
        round_ts=config.round_ts_unix(0),
    )


def run_round(
    spark: SparkSession,
    round_id: int,
    config: CrawlConfig,
    frontier: DataFrame,
    seen: DataFrame,
    bloom: DataFrame,
    robots: DataFrame,
    pages: DataFrame,
    robots_src: DataFrame,
    truncate_lineage: bool = True,
    fetcher=None,
    host_salts: DataFrame | None = None,
    tasks=None,
) -> RoundResult:
    """truncate_lineage=False keeps the full declarative plan on every
    output (no eager jobs, no checkpoints) — used by scripts/explain_plans.py
    to audit the physical plan; production rounds always truncate.

    ``fetcher`` (SRC2 seam): optional callable(scheduled DataFrame) →
    scheduled rows + html/content_type/last_modified columns — a live
    mapInPandas HTTP connector (sources/connector.py). None = simulated
    fetch join against the ``pages`` corpus.

    ``tasks`` (required when truncating): the caller's handle on its
    executor for this round — ``tasks.submit(fn, *args)`` and
    ``tasks.write(table, df)`` return futures the caller waits for before
    the snapshot publish. Two pieces of the round go through it:
      - the leftover checkpoint, which runs beside the fetch+parse job;
      - the ``fetched`` and ``links`` table writes. They depend ONLY on the
        parse checkpoint, so they start right after it and overlap the
        seen-probe/new-urls checkpoint instead of queueing behind it in the
        round's write phase (where the fetched write was a ~1 s straggler).
    """
    round_ts = config.round_ts_unix(round_id)

    # ---- SRC1 frontier scan: due vs not-due (predicates push to parquet).
    # F9 tag-subset (index -t): when tag_filter is set, only that tag's rows
    # are even candidates; other tags stay in the frontier untouched.
    due = frontier.filter(F.col("next_fetch_unix") <= F.lit(round_ts))
    not_due = frontier.filter(F.col("next_fetch_unix") > F.lit(round_ts))
    if config.tag_filter is not None:
        not_due = not_due.unionByName(
            due.filter(F.col("tag") != F.lit(config.tag_filter))
        )
        due = due.filter(F.col("tag") == F.lit(config.tag_filter))

    # r07: the due slice is ROUND-SIZED (bounded by budgets, never the full
    # frontier) and its scan subtree appears twice inside the schedule job
    # (the due-hosts robots slice and the politeness window chain) — persist
    # it so the frontier parquet is scanned once per round here (guide §5:
    # cache what is reused and round-bounded; the full frontier is neither).
    due = due.persist()

    # ---- SRC3/J2/F4 robots: fetch missing hosts' robots, then filter.
    # due_hosts is bounded by the round and reused three ways (missing-host
    # calc, cache slice, and the robots join) — persisted once.
    due_hosts = due.select("host").distinct().persist()
    robots_delta = fetch_missing_robots(
        due_hosts, robots, robots_src, config.user_agent, round_ts,
        hosts_deduped=True, period_s=config.robots_period_s,
    ).persist()  # consumed by this round's filter AND the snapshot write
    robots_all = robots.unionByName(robots_delta)
    # the cache is semi-joined down to due hosts BEFORE broadcast — never
    # broadcast unbounded (the cache grows with every host ever crawled)
    flagged = robots_allow_filter(
        due, robots_all, due_hosts=due_hosts,
        # without a TTL the cache holds at most one generation per host by
        # construction — skip the newest-wins aggregation exchange
        dedup_generations=config.robots_period_s is not None,
    )
    allowed = flagged.filter(F.col("robots_ok")).drop("robots_ok")
    # robots-denied rows leave the frontier permanently (never fetched);
    # they remain in `seen`, so they are never re-discovered either.

    # ---- W1/W2 politeness schedule; leftover (due-but-over-budget) comes
    # from the same window ranks — no anti-join, no batch broadcast.
    scheduled, leftover, sched_persisted = schedule_round_split(
        allowed, config, round_ts, host_salts=host_salts
    )

    # Materialize + TRUNCATE lineage (localCheckpoint). Two reasons:
    #  1. later broadcast builds collect already-cached blocks instead of
    #     re-running the window chain inside a broadcast-build job (where
    #     AQE may coalesce to one partition — observed 20s 1-task builds);
    #  2. the round's outputs reference the same subtree (frontier scan →
    #     robots join → windows) several times, and Spark RE-ANALYZES the
    #     full logical tree on every action — measured 5-10s of pure driver
    #     planning per action at demo scale. Checkpointing the junction
    #     DataFrames cuts every downstream tree to an RDD leaf. The
    #     checkpoint executes through the stage persists, so nothing is
    #     computed twice; durability stays with the per-round snapshot
    #     commit (StateStore), not these ephemeral blocks.
    if truncate_lineage:
        scheduled = scheduled.localCheckpoint()  # the one real schedule job
        # leftover is only consumed at frontier-write/host-salt time, so its
        # (cache-backed) checkpoint job runs CONCURRENTLY with the fetch+
        # parse job below instead of adding its latency to the round floor
        leftover_fut = tasks.submit(leftover.localCheckpoint)
        n_sched = scheduled.count()  # RDD block count — trivial
    else:
        n_sched = 0  # plan-inspection mode: nothing executes

    # ---- J3 fetch (simulated: equi-join against the pages corpus — the
    # seam where a live mapInPandas HTTP connector would plug in).
    # The corpus is the 100 TB side and must never shuffle:
    #   small batch → broadcast the batch INTO the pages scan;
    #   big batch   → shuffle-hash join (never sort-merge: no sort of the
    #                 big side). At real scale `pages` is bucketed by
    #                 url_canon so even the shuffle-hash path moves only the
    #                 batch side (bucket-local join; tests/test_bucketed_join.py).
    fetch_meta = ["html", "content_type", "last_modified", "etag"]
    if fetcher is not None:
        # live-connector path (SRC2): Arrow-batched per-partition fetch
        found_urls = None
        raw = fetcher(scheduled)
        for c in fetch_meta:
            if c not in raw.columns:
                typ = "binary" if c == "html" else (
                    "long" if c == "last_modified" else "string"
                )
                raw = raw.withColumn(c, F.lit(None).cast(typ))
    else:
        pages_slim = pages.select(
            F.col("url").alias("url_canon"),
            "html",
            (
                F.col("content_type")
                if "content_type" in pages.columns
                else F.lit(None).cast("string")
            ).alias("content_type"),
            (
                F.col("last_modified")
                if "last_modified" in pages.columns
                else F.lit(None).cast("long")
            ).alias("last_modified"),
            (
                F.col("etag")
                if "etag" in pages.columns
                else F.lit(None).cast("string")
            ).alias("etag"),
        )
        use_broadcast = n_sched <= config.fetch_broadcast_limit
        if use_broadcast:
            batch = F.broadcast(scheduled)
            miss_probe = lambda urls: F.broadcast(urls)  # noqa: E731
        else:
            batch = scheduled.hint("shuffle_hash")
            miss_probe = lambda urls: urls.hint("shuffle_hash")  # noqa: E731
        # found is NOT persisted: page bodies are the round's dominant bytes
        # and caching them doubles executor memory pressure for one
        # downstream read (the parse). Only the url column is cached for the
        # miss-detection anti-join — its materialization is a PRUNED scan
        # (url column only; Catalyst never touches html for it).
        found = pages_slim.join(batch, on="url_canon", how="inner")
        found_urls = found.select("url_canon")
        if truncate_lineage:
            found_urls = found_urls.persist()
        misses = scheduled.join(
            miss_probe(found_urls), on="url_canon", how="left_anti"
        )
        for c, typ in (
            ("html", "binary"), ("content_type", "string"),
            ("last_modified", "long"), ("etag", "string"),
        ):
            misses = misses.withColumn(c, F.lit(None).cast(typ))
        raw = found.unionByName(misses)
    # F6 MaxDocSize is applied HERE, JVM-side, before digests/parse — the
    # canonical body is the truncated transfer (the reference aborts the
    # transfer at MaxDocSize), so content_crc/content_md5 hash identical
    # bytes on the simulated path and the live-connector path (which
    # truncates at the transport boundary, sources/connector.py). Also
    # keeps oversized bodies out of every downstream exchange.
    raw = raw.withColumn(
        "html",
        F.when(
            F.col("html").isNotNull(),
            F.substring(F.col("html"), 1, config.max_doc_size),
        ),
    ).withColumn(
        "status",
        F.when(F.col("html").isNotNull(), F.lit(200)).otherwise(F.lit(404)),
    )
    # S7 conditional GET: revisit of a page not modified since its last
    # successful fetch answers 304 (no body re-indexed, no re-discovery).
    # Validator precedence (RFC 9110 §13.1.2): when the server sends an
    # ETag AND we hold one from the last fetch, If-None-Match decides alone
    # (etag equality — even if Last-Modified claims the page changed);
    # otherwise fall back to If-Modified-Since. Oracle parity:
    # oracle/model_crawler.py uses the identical precedence.
    # F5 MIME filter: non-indexable Content-Type is fetched but not parsed.
    from ..operators.parse import validator_not_modified

    raw = raw.withColumn(
        "not_modified",
        F.col("html").isNotNull()
        & validator_not_modified(
            F.col("etag"), F.col("last_etag"),
            F.col("last_modified"), F.col("last_fetch_unix"),
        ),
    ).withColumn(
        # F5 keys on the MEDIA TYPE (before ';charset=...'), lowercased.
        # Leading/trailing whitespace is stripped with PY_WS_CLASS — the
        # exact Python str.strip() set, NOT \s (Java \s is ASCII-only) — so
        # this matches the oracle's media_type_of byte-for-byte on headers
        # like 'text/html\xa0' from a live connector (round-3 ADVICE).
        "mime_ok",
        F.col("content_type").isNull()
        | F.lower(
            F.regexp_replace(
                F.element_at(F.split("content_type", ";"), 1),
                f"^{PY_WS_CLASS}+|{PY_WS_CLASS}+$",
                "",
            )
        ).isin(list(config.allowed_content_types)),
    )
    raw = with_content_digests(raw)

    # ---- §2.9 parse: byte-exact text + outlinks (Arrow batch, html dropped)
    parsed = parse_fetched(raw, config).drop("html")
    if truncate_lineage:
        # THE heavy job of the round: pages scan → fetch join → parse, run
        # exactly once; the checkpoint (html already dropped) is the only
        # copy of the round's text kept in memory — page BODIES are never
        # cached anywhere (round-2 OOM lesson: columnar-caching ~1 GB of
        # html blew a 16g heap while building cache buffers).
        parsed = parsed.localCheckpoint()

    # ---- href explosion → candidates (canonical already; dedup per round).
    # J4: redirect targets re-enter at the PARENT depth (no hop cost);
    # ordinary outlinks at depth+1.
    links = parsed.select(
        F.col("url_hash64").alias("origin_hash64"),
        (F.col("depth") + 1).alias("depth"),
        F.explode("outlinks").alias("url_canon"),
    )
    redirect_links = parsed.filter(F.col("redirect_canon").isNotNull()).select(
        F.col("url_hash64").alias("origin_hash64"),
        F.col("depth"),
        F.col("redirect_canon").alias("url_canon"),
    )
    links = links.unionByName(redirect_links)

    # F7/S7/F5 status branches, same precedence as the oracle
    # (model_crawler): 404 miss → 304 not-modified → 302 meta-refresh →
    # 200 (incl. MIME-filtered pages: fetched, not indexed). is_redirect
    # (not redirect_canon) drives 302 so a redirect whose target is
    # config-denied still reads 302.
    status_col = (
        F.when(F.col("status") == 404, F.lit(404))
        .when(F.col("not_modified"), F.lit(304))
        .when(F.col("is_redirect"), F.lit(302))
        .otherwise(F.lit(200))
    )
    fetched = parsed.select(
        F.lit(round_id).alias("round"),
        "url_canon",
        "url_hash64",
        "host",
        "depth",
        "seq_in_host",
        F.col("sched_unix").cast("long").alias("sched_unix"),
        status_col.alias("status"),
        "content_type",
        "content_crc",
        "content_md5",
        F.col("text_extracted").alias("text"),
        # W4 title zone: real <title> text from the parser (extract_title,
        # same charset rules as the body) — SearchJob.build_from_fetched
        # passes it as title_col so title hits get their zone weight
        "title",
        F.size("outlinks").alias("n_links"),
    )
    # D5/J6: the crawl link graph for `index -R` rank + lineage (cheap
    # projections over the truncated parsed)
    link_graph = links.select(
        F.col("origin_hash64").alias("src_hash64"),
        F.xxhash64("url_canon").alias("dst_hash64"),
        F.lit(round_id).alias("round"),
    )
    # both depend only on the (checkpointed) parse output — start their
    # table writes NOW so they overlap the seen/new-urls work below
    if truncate_lineage:
        tasks.write("fetched", fetched)
        tasks.write("links", link_graph)

    cand = (
        links.groupBy("url_canon")
        .agg(F.min(F.struct("depth", "origin_hash64")).alias("m"))
        .select(
            "url_canon",
            F.col("m.depth").alias("depth"),
            F.col("m.origin_hash64").alias("origin_hash64"),
        )
    )
    from ..operators.canonicalize import hash32_col, hash64_col, host_col

    # host extraction on canonical URLs is a JVM regexp (codegen) — no
    # Python UDF in the candidate hot path (round-1 verdict fix #6)
    cand = (
        cand.withColumn("host", host_col(F.col("url_canon")))
        .withColumn("url_hash64", hash64_col(F.col("url_canon")))
        .withColumn("hash32", hash32_col(F.col("url_canon")))
    )

    # ---- J1 URL-seen test (bloom + exact backstop) → definitely-new URLs.
    # This checkpoint is the round's third job (bloom probe + backstop over
    # the already-checkpointed parse output — small), truncating lineage so
    # the frontier / seen / bloom outputs are built on an RDD leaf.
    extra_persisted: list = []
    new_urls = seen_filter_new(
        cand, bloom, seen, config, persisted_out=extra_persisted
    )
    if truncate_lineage:
        new_urls = new_urls.localCheckpoint()
        leftover = leftover_fut.result()  # overlapped with parse above

    new_frontier_rows = new_urls.select(
        "url_canon",
        "url_hash64",
        "hash32",
        "host",
        "depth",
        F.lit(round_ts).cast("long").alias("next_fetch_unix"),
        F.lit(round_id).alias("round_added"),
        "origin_hash64",
        F.lit(config.tag).alias("tag"),
        F.lit(None).cast("long").alias("last_fetch_unix"),
        F.lit(None).cast("string").alias("last_etag"),
    )

    # ---- revisit scheduling (Period): fetched URLs return to the frontier.
    # S7: last_fetch_unix records the last NON-304 fetch — a 304 keeps the
    # previous timestamp (conditional GET keeps comparing against the last
    # time a body was actually taken), everything else stamps sched_unix.
    revisit = parsed.select(
        "url_canon",
        "url_hash64",
        "hash32",
        "host",
        "depth",
        (F.col("sched_unix") + F.lit(config.period_s)).cast("long").alias(
            "next_fetch_unix"
        ),
        F.lit(round_id).alias("round_added"),
        "origin_hash64",
        "tag",
        F.when(status_col == 304, F.col("last_fetch_unix"))
        .otherwise(F.col("sched_unix"))
        .cast("long")
        .alias("last_fetch_unix"),
        # a 304 keeps the stored validator; any other fetch stamps the
        # server's current ETag (null when none was sent / page missed)
        F.when(status_col == 304, F.col("last_etag"))
        .otherwise(F.col("etag"))
        .alias("last_etag"),
    )

    frontier_cols = [
        "url_canon", "url_hash64", "hash32", "host", "depth",
        "next_fetch_unix", "round_added", "origin_hash64", "tag",
        "last_fetch_unix", "last_etag",
    ]
    new_frontier = (
        not_due.select(*frontier_cols)
        .unionByName(leftover.select(*frontier_cols))
        .unionByName(revisit.select(*frontier_cols))
        .unionByName(new_frontier_rows.select(*frontier_cols))
    )

    seen_delta = new_urls.select("url_canon", "url_hash64", "hash32").withColumn(
        "round_added", F.lit(round_id)
    )
    new_bloom = probe_add(new_urls, bloom, config)

    return RoundResult(
        frontier=new_frontier,
        seen_delta=seen_delta,
        bloom=new_bloom,
        robots_delta=robots_delta,
        fetched=fetched,
        round_ts=round_ts,
        persisted=[robots_delta, due_hosts, due]
        + ([found_urls] if found_urls is not None else [])
        + sched_persisted + extra_persisted,
        scheduled=scheduled,
        new_urls=new_urls,
        n_sched=n_sched,
        leftover=leftover,
    )
