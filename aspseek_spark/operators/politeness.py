"""Per-host politeness priority queue (SURVEY.md §2.5 W1/W2, north_star).

The reference serializes fetches per server with in-memory queues + mutexes
and spaces them by DeltaTime ([R:src/index.cpp], BASELINE.json:6). Spark has
no mutable queues, so the same *semantics* are re-expressed declaratively:

  priority order  = (depth ASC, next_fetch_unix ASC, url_canon ASC)
                    — fully deterministic; url_canon is the total tie-break
                    so engine and oracle produce identical sequences (§7
                    hard-part 1).
  per-host budget = keep rank ≤ host_budget within each host.
  DeltaTime       = sched_unix = round_ts + (rank-1) * delta_time_s —
                    reproduces the reference's intra-host spacing exactly.

Skew (§7 hard-part 6): a hot host would funnel all its due URLs into one
window partition. Because host_budget B is small, top-B-per-host is computed
in two stages with identical semantics:

  stage 1: rank within (host, salt) where salt = pmod(murmur3(url), S) and
           keep rank ≤ B  → at most S·B survivors per host, any skew is
           capped at the salt granularity;
  stage 2: re-rank the ≤ S·B survivors per host with the same ordering and
           keep rank ≤ B.

Budget and DeltaTime are enforced per host (not per host+salt) in stage 2,
preserving spacing semantics. AQE skew-join handling stays enabled for the
joins around this operator (session config).

S is ADAPTIVE per host (``host_salts``): the two-stage result is identical
for ANY salt assignment (stage 2 re-ranks exactly), so S(host) is free to
grow with the host's due backlog without touching fetch order. The crawl
derives it from the PREVIOUS round's leftover counts (a host with leftover
rows is exactly a host whose backlog overflowed its salt groups) — see
crawl_round/crawl_loop; only hosts needing S > default are carried, so the
host→salt side stays broadcast-sized even at 10^8 total hosts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig

def _order() -> list:
    """The pinned deterministic priority order (depth, due time, url)."""
    return [
        F.col("depth").asc(),
        F.col("next_fetch_unix").asc(),
        F.col("url_canon").asc(),
    ]


def schedule_round_split(
    due: DataFrame, config: CrawlConfig, round_ts: int, salt_factor: int = 8,
    host_salts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, list]:
    """Due frontier rows → (scheduled, leftover, persisted).

    scheduled: rows with seq_in_host ≤ budget + sched_unix.
    leftover:  the due-but-over-budget complement, derived from the SAME
               window ranks (rank > budget at either stage) — no anti-join,
               no broadcast of the scheduled batch back into the frontier
               rewrite (round-1 verdict fix: one fewer broadcast + join per
               round, and correct at any batch size by construction).
    persisted: intermediates the caller must unpersist after the commit.
    host_salts: optional (host, salt) overrides for SKEWED hosts — stage-1
               salt becomes coalesce(per-host salt, salt_factor), keeping
               stage-1 partitions bounded at ~due(host)/S(host) rows. Tiny
               by construction (only over-backlog hosts), so it broadcasts.
               Output is provably identical for any salt assignment.

    Input must have: url_canon, host, depth, next_fetch_unix.
    """
    b = config.host_budget
    persisted: list[DataFrame] = []

    if config.max_urls_per_round is not None:
        # global round cap (W2): distributed TakeOrdered, not a 1-partition
        # window — Spark plans sort+limit as TakeOrderedAndProject. Rows cut
        # by the cap are leftover; the cap is config-bounded, so the
        # anti-join's broadcast side is bounded by definition.
        capped = due.sort(*_order()).limit(config.max_urls_per_round).persist()
        persisted.append(capped)
        cap_leftover = due.join(
            F.broadcast(capped.select("url_canon")), "url_canon", "left_anti"
        )
        due = capped
    else:
        cap_leftover = None

    # stage 1: salted local top-B (caps skew without changing semantics).
    # Persisted: both the survivors (→ stage 2) and the dropped rows
    # (→ leftover) read it.
    if host_salts is not None:
        salted = due.join(
            F.broadcast(host_salts.select("host", "salt")), "host", "left"
        ).withColumn(
            "_salt",
            F.pmod(
                F.hash("url_canon"),
                F.coalesce(F.col("salt"), F.lit(salt_factor)),
            ),
        ).drop("salt")
    else:
        salted = due.withColumn(
            "_salt", F.pmod(F.hash("url_canon"), F.lit(salt_factor))
        )
    w1 = Window.partitionBy("host", "_salt").orderBy(*_order())
    stage1 = salted.withColumn("_rn1", F.row_number().over(w1)).persist()
    persisted.append(stage1)

    # stage 2: exact per-host rank over ≤ S·B rows/host. Persisted: consumed
    # by the fetch join / revisit (rank ≤ B) AND leftover (rank > B).
    w2 = Window.partitionBy("host").orderBy(*_order())
    stage2 = (
        stage1.filter(F.col("_rn1") <= b)
        .drop("_salt", "_rn1")
        .withColumn("seq_in_host", F.row_number().over(w2))
        .persist()
    )
    persisted.append(stage2)

    # DeltaTime spacing: a host advertising a robots.txt Crawl-delay (the
    # `crawl_delay` column rides in from robots_allow_filter) overrides the
    # configured delta for ITS fetches, capped; others keep delta_time_s.
    # Integer arithmetic end to end — oracle parity is exact.
    if "crawl_delay" in due.columns and config.honor_crawl_delay:
        # NB: F.least SKIPS nulls (least(NULL, cap) = cap), so the cap must
        # only apply when the host actually advertised a delay
        delay = F.when(
            F.col("crawl_delay").isNotNull(),
            F.least(F.col("crawl_delay"), F.lit(config.crawl_delay_cap_s)),
        ).otherwise(F.lit(config.delta_time_s)).cast("long")
    else:
        delay = F.lit(config.delta_time_s).cast("long")
    drop_extra = ["crawl_delay"] if "crawl_delay" in due.columns else []
    scheduled = stage2.filter(F.col("seq_in_host") <= b).withColumn(
        "sched_unix",
        F.lit(round_ts) + (F.col("seq_in_host") - F.lit(1)) * delay,
    ).drop(*drop_extra)
    leftover = stage1.filter(F.col("_rn1") > b).drop(
        "_salt", "_rn1", *drop_extra
    ).unionByName(
        stage2.filter(F.col("seq_in_host") > b).drop(
            "seq_in_host", *drop_extra
        )
    )
    if cap_leftover is not None:
        leftover = leftover.unionByName(cap_leftover.drop(*drop_extra))
    return scheduled, leftover, persisted
