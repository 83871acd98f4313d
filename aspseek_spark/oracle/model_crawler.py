"""Model crawler — the reference-semantics oracle (SURVEY.md §5.2).

A single-threaded pure-Python crawler implementing EXACTLY the documented
reference semantics (BASELINE.json:6: MaxHops, DeltaTime, per-host budget,
robots, priority order, URL-seen set) with no Spark anywhere. It shares the
pure functions ``canon1`` / ``resolve_href`` / ``extract1`` /
``extract_hrefs`` / ``parse_robots`` / ``robots_allowed`` with the engine,
so the two implementations can only diverge in *orchestration* — which is
precisely what the fetch-order and seen-set equality tests pin down.

Correctness claims validated against this oracle (tests/test_crawl_order.py):
  - identical fetch sequence (round, sched_unix, host, url_canon, status)
  - identical final URL-seen set
  - identical per-URL extracted text (byte-for-byte)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..config import CrawlConfig
from ..functions.robots import parse_robots_full, path_of, robots_allowed
from ..functions.textextract import (
    charset_from_content_type,
    extract1,
    extract_hrefs,
    extract_redirect,
    extract_title,
    media_type_of,
)
from ..functions.urlnorm import host_of, resolve_href


@dataclass
class OracleFetch:
    round: int
    seq_in_host: int
    sched_unix: int
    host: str
    url_canon: str
    status: int
    text: str
    # W4 title zone: <title> text of 200-parsed pages (same charset rules
    # as the body); None for 404/304/302/MIME-filtered rows — engine parity
    # via the shared extract_title
    title: str | None = None


@dataclass
class FrontierRow:
    url_canon: str
    host: str
    depth: int
    next_fetch_unix: int
    # S7: time of last non-304 fetch (None = never fetched)
    last_fetch_unix: int | None = None
    # S7: ETag stored at the last non-304 fetch (None = none sent);
    # If-None-Match beats If-Modified-Since when both sides have validators
    last_etag: str | None = None


@dataclass
class OracleResult:
    fetches: list[OracleFetch]
    seen: set[str]
    frontier: dict[str, FrontierRow] = field(default_factory=dict)


def _page_meta(v) -> tuple[bytes, str | None, int | None, str | None]:
    """pages values are bare html bytes (fixtures without the S7/F5
    columns, e.g. hand-built test webs), (html, content_type,
    last_modified), or (..., etag)."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v), None, None, None
    if len(v) == 3:
        body, ctype, lastmod = v
        return bytes(body), ctype, lastmod, None
    body, ctype, lastmod, etag = v
    return bytes(body), ctype, lastmod, etag


def crawl(
    pages: dict,
    robots_src: dict[str, bytes],
    seeds: list[str],
    config: CrawlConfig,
    n_rounds: int,
    deletions: dict[int, set[str]] | None = None,
) -> OracleResult:
    """Run rounds 1..n_rounds; round 0 is seed insertion (engine parity).
    ``deletions``: round_id → urls expired at the END of that round (URL
    expiry / tag deletion — mirrors StateStore.delete_urls)."""
    from ..functions.urlnorm import canon1

    frontier: dict[str, FrontierRow] = {}
    seen: set[str] = set()
    # host → (rules, fetched_unix): SRC3 cache with optional TTL
    # (config.robots_period_s) — newest generation wins, engine parity
    # host → (rules, fetched_ts, crawl_delay seconds or None)
    robots_cache: dict[
        str, tuple[list[tuple[bool, str]], int, int | None]
    ] = {}
    fetches: list[OracleFetch] = []

    # round 0: seed insertion (SRC5)
    t0 = config.round_ts_unix(0)
    # engine parity: seeds are canonicalized + deduped only — the config
    # allow/deny chain applies at outlink discovery, not to seeds
    for s in seeds:
        cu = canon1(s)
        if cu is None or cu in seen:
            continue
        seen.add(cu)
        frontier[cu] = FrontierRow(cu, host_of(cu), 0, t0)

    for round_id in range(1, n_rounds + 1):
        round_ts = config.round_ts_unix(round_id)
        due = [r for r in frontier.values() if r.next_fetch_unix <= round_ts]

        # robots ensure (SRC3): fetch robots for hosts with no FRESH cache
        # entry (TTL per config.robots_period_s; None = cache forever)
        ttl = getattr(config, "robots_period_s", None)
        for r in due:
            entry = robots_cache.get(r.host)
            stale = entry is not None and ttl is not None and (
                entry[1] + ttl <= round_ts
            )
            if entry is None or stale:
                body = robots_src.get(r.host)
                rules, delay = (
                    parse_robots_full(body, config.user_agent)
                    if body is not None
                    else ([], None)
                )
                robots_cache[r.host] = (rules, round_ts, delay)

        # robots filter (F4): denied rows leave the frontier permanently
        allowed: list[FrontierRow] = []
        for r in due:
            rules = robots_cache[r.host][0]
            if robots_allowed(rules, path_of(r.url_canon)):
                allowed.append(r)
            else:
                del frontier[r.url_canon]

        # global cap (W2) then per-host budget (W1), ordering pinned
        allowed.sort(key=lambda r: (r.depth, r.next_fetch_unix, r.url_canon))
        if config.max_urls_per_round is not None:
            allowed = allowed[: config.max_urls_per_round]
        per_host_rank: dict[str, int] = {}
        scheduled: list[tuple[FrontierRow, int]] = []
        for r in allowed:
            rank = per_host_rank.get(r.host, 0) + 1
            per_host_rank[r.host] = rank
            if rank <= config.host_budget:
                scheduled.append((r, rank))

        # fetch + parse + discover. Status precedence (engine parity,
        # plans/crawl_round status_col): 404 → 304 → MIME-filtered 200 →
        # 302 → 200-parse.
        candidates: dict[str, int] = {}  # url_canon -> min depth
        for r, rank in scheduled:
            # DeltaTime spacing: robots Crawl-delay (capped) overrides the
            # configured delta for its host — engine parity via the shared
            # parse_robots_full + identical precedence (politeness.py)
            delay = config.delta_time_s
            if getattr(config, "honor_crawl_delay", True):
                cd = robots_cache[r.host][2]
                if cd is not None:
                    delay = min(cd, config.crawl_delay_cap_s)
            sched_unix = round_ts + (rank - 1) * delay
            page = pages.get(r.url_canon)
            text = None
            title = None
            status = 404
            new_last_fetch: int | None = sched_unix
            new_last_etag: str | None = None
            if page is not None:
                html, ctype, lastmod, etag = _page_meta(page)
                new_last_etag = etag
                # S7 validator precedence (engine parity, crawl_round
                # not_modified): If-None-Match decides alone when both the
                # server and the stored state have an ETag; otherwise fall
                # back to If-Modified-Since (RFC 9110 §13.1.2).
                if etag is not None and r.last_etag is not None:
                    not_mod = etag == r.last_etag
                else:
                    not_mod = (
                        r.last_fetch_unix is not None
                        and lastmod is not None
                        and lastmod <= r.last_fetch_unix
                    )
                if not_mod:
                    # S7: conditional GET → 304; nothing re-indexed or
                    # re-discovered; keep the previous fetch timestamp and
                    # the previously stored validator
                    status = 304
                    new_last_fetch = r.last_fetch_unix
                    new_last_etag = r.last_etag
                elif (
                    ctype is not None
                    and media_type_of(ctype) not in config.allowed_content_types
                ):
                    # F5: fetched but not indexable — no text, no outlinks
                    status = 200
                else:
                    status = 200
                    body = html[: config.max_doc_size]
                    target = extract_redirect(body)
                    if target is not None:
                        # J4: redirect — no text indexed; target re-enters
                        # at the parent's depth (no hop cost)
                        status = 302
                        cu = resolve_href(r.url_canon, target)
                        if cu is not None and config.url_allowed(cu):
                            d = r.depth
                            if cu not in candidates or d < candidates[cu]:
                                candidates[cu] = d
                    else:
                        # S6: header charset precedence, same as engine
                        cs = charset_from_content_type(ctype)
                        text = extract1(body, cs)
                        title = extract_title(body, cs)
                        if r.depth + 1 <= config.max_hops:
                            for href in extract_hrefs(body):
                                cu = resolve_href(r.url_canon, href)
                                if cu is None or not config.url_allowed(cu):
                                    continue
                                d = r.depth + 1
                                if cu not in candidates or d < candidates[cu]:
                                    candidates[cu] = d
            fetches.append(
                OracleFetch(
                    round_id, rank, sched_unix, r.host, r.url_canon, status,
                    text, title,
                )
            )
            # revisit scheduling (Period) + S7 last-fetch bookkeeping
            frontier[r.url_canon] = FrontierRow(
                r.url_canon, r.host, r.depth, sched_unix + config.period_s,
                new_last_fetch, new_last_etag,
            )

        # URL-seen test (J1) + frontier insertion
        for cu, d in candidates.items():
            if cu in seen:
                continue
            seen.add(cu)
            frontier[cu] = FrontierRow(cu, host_of(cu), d, round_ts)

        # URL expiry / tag deletion at end-of-round (StateStore.delete_urls)
        if deletions and round_id in deletions:
            for cu in deletions[round_id]:
                seen.discard(cu)
                frontier.pop(cu, None)

    return OracleResult(fetches=fetches, seen=seen, frontier=frontier)


def load_fixture_dicts(web_dir: str):
    """Read the webgen parquet fixtures into plain dicts (no Spark).
    pages values carry (html, content_type, last_modified) when the fixture
    has the S7/F5 columns, else raw html bytes."""
    import pyarrow.parquet as pq

    pages_t = pq.read_table(f"{web_dir}/pages.parquet")
    names = pages_t.schema.names
    urls = pages_t["url"].to_pylist()
    htmls = pages_t["html"].to_pylist()
    if "content_type" in names and "last_modified" in names:
        etags = (
            pages_t["etag"].to_pylist()
            if "etag" in names
            else [None] * len(urls)
        )
        pages = {
            u: (h, c, lm, e)
            for u, h, c, lm, e in zip(
                urls, htmls,
                pages_t["content_type"].to_pylist(),
                pages_t["last_modified"].to_pylist(),
                etags,
            )
        }
    else:
        pages = dict(zip(urls, htmls))
    robots_t = pq.read_table(f"{web_dir}/robots_src.parquet")
    robots = dict(
        zip(robots_t["host"].to_pylist(), robots_t["body"].to_pylist())
    )
    seeds_t = pq.read_table(f"{web_dir}/seeds.parquet")
    seeds = seeds_t["url"].to_pylist()
    return pages, robots, seeds
