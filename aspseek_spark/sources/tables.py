"""Crawl state tables with atomic snapshot commit (SURVEY.md §2.10, SNK1).

The reference keeps all durable crawl state in transactional MySQL tables
([R:src/sqldb.cpp]); the north_star replaces them with Iceberg frontier /
seen / fetched tables whose snapshots make a killed job resume with an
identical frontier (BASELINE.json:6,14). This image has no Iceberg jars
(SURVEY.md §7 hard-part 5), so snapshot isolation is emulated with the
commit protocol Iceberg uses underneath (sources/manifest.py).

ONE commit per mutation: ``manifest.json`` names every directory a reader
may open. A round (write_round, round 0 included), delete_urls and a probe
rebuild (replace_probe) each write only directories it does not name — a
rewrite goes to a fresh ``{table}_v{gen}`` — then publish the next
manifest (one os.replace), then sweep what neither it nor its retained
previous round names. A failure before the publish leaves the previous
commit whole; with deterministic round logic, resume is exactly-once
equivalent. The manifest names, for the last and the retained previous
round, the frontier's generation dir and fpart → owning-round map and the
probe-state dir; every seen-delta dir; the live bucketed-seen generation
and its bucket count; and ``gen``, the newest rewrite generation. Round
tables are named by round ≤ last_round, host salts by the retained rounds.

Table layouts (all parquet, explicit schemas — FIXTURES.md):

  frontier_rounds[_vG]/round=N/fpart=V/
                        PARTITIONED frontier: fpart is a due-time bucket
                        (next_fetch_unix // (interval·frontier_part_rounds)).
                        A round writes ONLY the partitions it touched (due +
                        new + revisit) into its predecessor's generation;
                        untouched partitions keep their existing version
                        dirs byte-identical — exactly Iceberg's
                        partition-overwrite snapshot model.
  bloom[_vG]/round=N/   probe state per round: P bloom blob rows (about
                        12 GB of bits at 10^10 keys — operators/seen.py)
                        or cuckoo tables
  seen_delta[_vG]/round=N/
                        append-only — only NEW urls each round, so per-round
                        write cost is O(new), not O(total); the logical
                        ``seen`` table is the union of the named deltas
  seen_bucketed[_vG]/   catalog table BUCKETED by url_canon (J1 scale path):
                        each round's delta is appended bucket-aligned so the
                        exact backstop is a bucket-local join — the seen
                        side never shuffles, never broadcasts. Deletions and
                        a bucket-count change rewrite it under a fresh
                        catalog name.
  robots_delta/round=N/ append-only robots-cache additions
  fetched/round=N/      append-only crawl output (+ extracted text)
  links/round=N/        append-only link graph
  metrics/round=N/      per-round lineage + metrics [B:14]
  host_salts/round=N/   advisory adaptive-salt overrides (plans/crawl_loop)
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from .manifest import publish_manifest, read_manifest, sweep

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash64", T.LongType()),
        T.StructField("hash32", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("next_fetch_unix", T.LongType()),
        T.StructField("round_added", T.IntegerType()),
        T.StructField("origin_hash64", T.LongType()),
        T.StructField("tag", T.IntegerType()),
        # S7: unix time of the last non-304 fetch (null = never fetched);
        # drives the If-Modified-Since conditional revisit
        T.StructField("last_fetch_unix", T.LongType()),
        # S7: entity tag of the last non-304 fetch (null = none sent).
        # If-None-Match takes precedence over If-Modified-Since when both
        # validators are available (RFC 9110 §13.1.2).
        T.StructField("last_etag", T.StringType()),
    ]
)
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash64", T.LongType()),
        T.StructField("hash32", T.IntegerType()),
        T.StructField("round_added", T.IntegerType()),
    ]
)
BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
        T.StructField("n_keys", T.LongType()),
        # per-blob fill ratio, computed where the blob lives (bloom_add) so
        # metrics aggregate P scalars instead of collecting blobs
        T.StructField("fill_ratio", T.DoubleType()),
        # blob format version (operators/seen.BLOOM_FMT = hash family).
        # Null when read from pre-versioning snapshots — CrawlJob treats any
        # mismatch as "stale hash family" and rebuilds from the exact seen
        # table instead of probing blobs whose bit positions no longer match.
        T.StructField("fmt", T.IntegerType()),
    ]
)
# cuckoo probe state (config.probe='cuckoo'): one partial-key cuckoo table
# per pid — same partitioned layout, true deletions (operators/cuckoo_seen)
CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.IntegerType()),
        T.StructField("table", T.BinaryType()),
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
    ]
)


def probe_state_schema(config: CrawlConfig) -> T.StructType:
    return CUCKOO_SCHEMA if config.probe == "cuckoo" else BLOOM_SCHEMA


# every directory a mutation writes (relative to the store root): what a
# commit's sweep may release
_SWEPT = [
    f"{t}{sub}"
    for t in ("frontier_rounds", "bloom", "seen_delta", "seen_bucketed",
              "robots_delta", "fetched", "links", "metrics", "host_salts")
    for sub in ("*", "*/round=*", "*/round=*/fpart=*")
]


def _gen_dir(table: str, gen: int) -> str:
    return table if gen == 0 else f"{table}_v{gen}"


class StateStore:
    """Directory-backed snapshot store: one manifest, one commit per
    mutation (see the module doc)."""

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _doc(self) -> dict | None:
        return read_manifest(self._manifest_path)

    def last_committed_round(self) -> int | None:
        doc = self._doc()
        return None if doc is None else doc["last_round"]

    def _round(self, round_id: int, what: str) -> dict:
        """The snapshot of ``round_id``: the live or the retained round."""
        entry = (self._doc() or {"rounds": {}})["rounds"].get(str(round_id))
        if entry is None:
            raise FileNotFoundError(
                f"no committed {what} for round {round_id} in {self.root} "
                f"(the manifest keeps the last two rounds)"
            )
        return entry

    def _named(self, doc: dict) -> set[str]:
        """Every directory ``doc`` names, with its parents."""
        rel = [*doc["seen"].values(),
               _gen_dir("seen_bucketed", doc["seen_bucketed"]["v"])]
        for r, entry in doc["rounds"].items():
            rel += [entry["bloom"], f"host_salts/round={r}"] + [
                f"{entry['frontier']}/round={ver}/fpart={v}"
                for v, ver in entry["fparts"].items()
            ]
        rel += [f"{t}/round={r}" for r in range(doc["last_round"] + 1)
                for t in ("robots_delta", "fetched", "links", "metrics")]
        named = set()
        for p in rel:
            while p:
                named.add(os.path.join(self.root, p))
                p = os.path.dirname(p)
        return named

    def _commit(self, doc: dict, prev: dict | None) -> None:
        """Publish ``doc`` (the commit point), then release what only
        ``prev`` named: a bucketed catalog entry, and every directory."""
        publish_manifest(self._manifest_path, doc)
        old = (prev or {}).get("seen_bucketed")
        if old is not None and old["v"] != doc["seen_bucketed"]["v"]:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._bkt_name(old['v'])}")
        sweep([os.path.join(self.root, p) for p in _SWEPT], self._named(doc))

    # -- paths --------------------------------------------------------------
    def _p(self, table: str, round_id: int) -> str:
        return os.path.join(self.root, table, f"round={round_id}")

    def write_table(self, name: str, round_id: int, df) -> None:
        """One round-table write into ``name/round=N``, which no commit
        names until round N commits. The fetched/links writes run before
        write_round, during the seen/new-urls phase (plans/crawl_round); a
        retried round re-derives and overwrites the same rows (round logic
        is deterministic)."""
        df.write.mode("overwrite").parquet(self._p(name, round_id))

    def _write_fresh(self, table: str, gen: int, round_id: int, df) -> str:
        """Write a rewrite of round ``round_id``'s ``table`` into generation
        ``gen``, which no commit names yet; return its relative path."""
        rel = f"{_gen_dir(table, gen)}/round={round_id}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        return rel

    # -- partitioned frontier (SNK1: rounds rewrite only touched fparts) -----
    def _frontier_round_dir(
        self, round_id: int, gen_dir: str = "frontier_rounds"
    ) -> str:
        return os.path.join(self.root, gen_dir, f"round={round_id}")

    def frontier_map(self, round_id: int) -> dict[int, int] | None:
        """fpart → owning-round map for ``round_id``; None when the
        manifest retains no map for that round (not committed, or older
        than the two-round resume window)."""
        entry = (self._doc() or {"rounds": {}})["rounds"].get(str(round_id))
        return entry and {int(v): int(r) for v, r in entry["fparts"].items()}

    @staticmethod
    def _fpart_granularity(config: CrawlConfig) -> int:
        return config.round_interval_s * config.frontier_part_rounds

    def _touched_fparts(
        self, round_id: int, config: CrawlConfig, prev_map: dict[int, int]
    ) -> set[int]:
        """Partitions round ``round_id`` may add/remove rows in — pure
        driver-side arithmetic, no Spark job:

          - every existing partition at or before the current time bucket
            (those hold the round's due rows; due rows leave or re-enter
            them, leftovers stay in them),
          - the current bucket (new URLs enter at round_ts),
          - the revisit range [round_ts+period, round_ts+(B-1)·Δ+period]
            (fetched rows re-enter there).

        Everything else — the ~period/interval future partitions holding
        already-scheduled revisits, i.e. the bulk of a 10^10-row frontier —
        is untouched and its files are left byte-identical.
        """
        g = self._fpart_granularity(config)
        ts = config.round_ts_unix(round_id)
        vc = ts // g
        touched = {v for v in prev_map if v <= vc}
        touched.add(vc)
        rv_lo = (ts + config.period_s) // g
        rv_hi = (
            ts
            + (config.host_budget - 1) * config.delta_time_s
            + config.period_s
        ) // g
        touched.update(range(rv_lo, rv_hi + 1))
        return touched

    def _write_fparts(
        self, frontier: DataFrame, out_dir: str, config: CrawlConfig,
        only: set[int] | None = None,
    ) -> set[int]:
        """Write ``frontier`` partitioned by fpart (only the ``only``
        partitions' rows, when given) under ``out_dir``; return the
        partitions written."""
        df = frontier.withColumn(
            "fpart",
            F.floor(
                F.col("next_fetch_unix") / F.lit(self._fpart_granularity(config))
            ).cast("long"),
        )
        if only is not None:
            df = df.filter(F.col("fpart").isin([int(v) for v in only]))
        # r07 (guide §6 small files): cluster by the partition column so
        # each fpart lands in ~ONE file, not one per (writer task × fpart);
        # the exchange moves only the written rows (slim columns)
        df.repartition("fpart").write.mode("overwrite").partitionBy(
            "fpart"
        ).parquet(out_dir)
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(out_dir)
            if d.startswith("fpart=")
        }

    def _frontier_bytes(self, round_id: int, entry: dict) -> dict[str, int]:
        """Partitioned-frontier write amplification evidence: the bytes
        round ``round_id`` wrote vs the whole frontier's on-disk footprint
        (driver-side walk of the version dirs — no Spark job)."""
        def size(ver: int, fpart: str = "") -> int:
            d = os.path.join(self._frontier_round_dir(ver, entry["frontier"]), fpart)
            return sum(os.path.getsize(os.path.join(dp, f))
                       for dp, _dn, fns in os.walk(d) for f in fns)

        return {
            "frontier_bytes_written": size(round_id),
            "frontier_bytes_total": sum(
                size(ver, f"fpart={v}") for v, ver in entry["fparts"].items()
            ),
        }

    # -- bucketed seen (J1 exact-backstop scale path) -------------------------
    def _bkt_name(self, v: int) -> str:
        digest = hashlib.md5(self.root.encode()).hexdigest()[:10]
        return _gen_dir(f"seen_bkt_{digest}", v)

    def _bkt_path(self, v: int) -> str:
        return os.path.join(self.root, _gen_dir("seen_bucketed", v))

    @property
    def _seen_bkt_name(self) -> str:
        return self._bkt_name(self._doc()["seen_bucketed"]["v"])

    @property
    def _seen_bkt_path(self) -> str:
        return self._bkt_path(self._doc()["seen_bucketed"]["v"])

    def _write_seen_bucketed(self, rows: DataFrame, bkt: dict, mode: str):
        """Append ``rows`` to generation ``bkt``, or ("overwrite") make
        them its whole content. Repartitioning by the bucket column first
        gives each task exactly one bucket: ONE file per bucket."""
        n = bkt["buckets"]
        (
            rows.repartition(n, "url_canon")
            .write.mode(mode)
            .format("parquet")
            .bucketBy(n, "url_canon")
            .sortBy("url_canon")
            .option("path", self._bkt_path(bkt["v"]))
            .saveAsTable(self._bkt_name(bkt["v"]))
        )

    def _register_seen_bucketed(self, bkt: dict) -> str:
        """The catalog name of generation ``bkt``, registered over its
        files when the session's catalog lacks it (a resume in a NEW Spark
        process — round-3 ADVICE, high) with the writer's exact bucket spec,
        or the bucket-local join plan (explain check 10) silently degrades."""
        name = self._bkt_name(bkt["v"])
        if not self.spark.catalog.tableExists(name):
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in SEEN_SCHEMA.fields
            )
            self.spark.sql(
                f"CREATE TABLE {name} ({cols}) "
                f"USING parquet "
                f"CLUSTERED BY (url_canon) SORTED BY (url_canon) "
                f"INTO {bkt['buckets']} BUCKETS "
                f"LOCATION '{self._bkt_path(bkt['v'])}'"
            )
        return name

    def read_seen_bucketed(self, upto_round: int, config: CrawlConfig) -> DataFrame:
        """The seen set as a BUCKETED table (url_canon buckets): joining on
        url_canon against this side plans bucket-locally — no Exchange above
        the seen scan, nothing broadcast (scripts/explain_plans.py check 10).
        The table keeps the bucket count it was committed with; the next
        write_round or delete_urls rewrites it at ``config.seen_buckets``."""
        name = self._register_seen_bucketed(self._doc()["seen_bucketed"])
        return self.spark.table(name).filter(
            F.col("round_added") <= F.lit(upto_round)
        )

    # -- mutations (each ends in one _commit) --------------------------------
    def write_round(
        self, round_id: int, config: CrawlConfig, frontier: DataFrame,
        bloom: DataFrame, seen_delta: DataFrame, robots_delta: DataFrame,
        *, submit, metrics=None,
    ) -> dict | None:
        """Write round ``round_id``'s snapshot tables (its fetched and links
        tables precede this — plans/crawl_round), then commit it. The
        writes run CONCURRENTLY through ``submit(fn, *args) -> Future`` over
        the caller's materialized lineage (~3× off a round's serial floor).
        ``metrics(probe)`` gets the written probe state and returns the
        metrics row, committed with the frontier byte counts and returned."""
        prev = self._doc()
        base = prev or {"gen": 0, "rounds": {}, "seen": {}}
        gen = base["gen"]
        last = base["rounds"].get(str(round_id - 1))
        entry = {
            # a map's fpart versions all live in one generation dir
            "frontier": last["frontier"] if last else "frontier_rounds",
            "fparts": {},
            "bloom": f"bloom/round={round_id}",
        }
        bkt = base.get("seen_bucketed")
        append = bkt is not None and bkt["buckets"] == config.seen_buckets
        if not append:
            # first round or a bucket-count change: a fresh generation
            gen += int(bkt is not None)
            bkt = {"v": gen, "buckets": config.seen_buckets}
        seen = {**base["seen"], str(round_id): f"seen_delta/round={round_id}"}

        def _write(name: str, df: DataFrame) -> None:
            if name == "frontier":
                # partitioned write: only touched fparts (see module doc)
                fparts = {
                    int(v): r for v, r in (last["fparts"] if last else {}).items()
                }
                touched = self._touched_fparts(round_id, config, fparts)
                fparts = {v: r for v, r in fparts.items() if v not in touched}
                fparts.update(dict.fromkeys(self._write_fparts(
                    df, self._frontier_round_dir(round_id, entry["frontier"]),
                    config, only=touched,
                ), round_id))
                entry["fparts"] = {str(v): r for v, r in sorted(fparts.items())}
                return
            self.write_table(name, round_id, df)
            if name == "seen_delta":
                # chain the bucketed-backstop write onto the delta write,
                # in the same task so its latency overlaps the other table
                # writes. Appending before the commit is harmless: readers
                # filter round_added ≤ a committed round, so a crashed
                # attempt's rows stay hidden and a replay only duplicates
                # them (the table is consumed membership-only).
                paths = [self._p("seen_delta", round_id)] if append else [
                    os.path.join(self.root, p) for p in seen.values()
                ]
                self._write_seen_bucketed(
                    self.spark.read.schema(SEEN_SCHEMA).parquet(*paths), bkt,
                    "append" if append else "overwrite",
                )

        tables = {"frontier": frontier, "bloom": bloom,
                  "seen_delta": seen_delta, "robots_delta": robots_delta}
        for fut in [submit(_write, name, df) for name, df in tables.items()]:
            fut.result()

        row = None
        if metrics is not None:
            row = {
                **metrics(self._read_probe_dir(entry["bloom"], config)),
                **self._frontier_bytes(round_id, entry),
            }
            self.write_table(
                "metrics", round_id, self.spark.createDataFrame([Row(**row)])
            )
        rounds = {str(round_id): entry}
        if last is not None:
            # the previous round stays readable (resume window = 2)
            rounds[str(round_id - 1)] = last
        self._commit({
            "last_round": round_id,
            "config": json.loads(config.to_json()),
            "gen": gen,
            "rounds": rounds,
            "seen": seen,
            "seen_bucketed": bkt,
        }, prev)
        return row

    def replace_probe(self, round_id: int, probe: DataFrame) -> None:
        """Commit ``probe`` as round ``round_id``'s probe state (a rebuild
        under a new hash family)."""
        prev = self._doc()
        gen = prev["gen"] + 1
        entry = {
            **prev["rounds"][str(round_id)],
            "bloom": self._write_fresh("bloom", gen, round_id, probe),
        }
        self._commit({
            **prev, "gen": gen,
            "rounds": {**prev["rounds"], str(round_id): entry},
        }, prev)

    def delete_urls(self, round_id: int, urls: list[str], config) -> None:
        """URL expiry / tag deletion (north_star cuckoo-deletion use case;
        reference: DELETE from urlword): remove ``urls`` from the seen set,
        frontier, probe state and bucketed backstop of ``round_id``, the
        last committed round, in one commit, so the crawl can re-discover
        and re-fetch them. The surviving seen rows become one delta and the
        bucketed table; the frontier becomes one full version; the bloom
        rebuilds ONLY the touched pids' blobs (operators/seen.seen_delete)
        and the cuckoo deletes in place (operators/cuckoo_seen). Every
        rewrite goes to a fresh generation.
        """
        from ..operators.cuckoo_seen import cuckoo_delete
        from ..operators.seen import seen_delete

        prev = self._doc()
        if prev is None or prev["last_round"] != round_id:
            raise ValueError(
                f"delete_urls rewrites the last committed round, not {round_id}"
            )
        deletes = self.spark.createDataFrame(
            [(u,) for u in urls], "url_canon string"
        )
        new_seen = self.read_seen(round_id).join(
            deletes, "url_canon", "left_anti"
        ).localCheckpoint()
        new_frontier = self.read_frontier(round_id).join(
            deletes, "url_canon", "left_anti"
        ).localCheckpoint()
        probe = self.read_probe(round_id, config)
        new_bloom = (
            cuckoo_delete(deletes, probe, config) if config.probe == "cuckoo"
            else seen_delete(new_seen, probe, deletes, config)
        ).localCheckpoint()

        gen = prev["gen"] + 1
        seen = {str(round_id): self._write_fresh(
            "seen_delta", gen, round_id, new_seen
        )}
        # deletions are rare (tag expiry): rewrite ALL partitions
        gen_dir = _gen_dir("frontier_rounds", gen)
        present = self._write_fparts(
            new_frontier, self._frontier_round_dir(round_id, gen_dir), config
        )
        entry = {
            "frontier": gen_dir,
            "fparts": {str(v): round_id for v in sorted(present)},
            "bloom": self._write_fresh("bloom", gen, round_id, new_bloom),
        }
        bkt = {"v": gen, "buckets": config.seen_buckets}
        self._write_seen_bucketed(new_seen, bkt, "overwrite")
        self._commit({
            **prev, "gen": gen, "seen": seen, "seen_bucketed": bkt,
            "rounds": {**prev["rounds"], str(round_id): entry},
        }, prev)

    # -- reads (only committed rounds) ---------------------------------------
    def read_frontier(self, round_id: int) -> DataFrame:
        entry = self._round(round_id, "frontier")
        if not entry["fparts"]:
            return self.spark.createDataFrame([], FRONTIER_SCHEMA)
        paths = [
            os.path.join(
                self._frontier_round_dir(ver, entry["frontier"]), f"fpart={v}"
            )
            for v, ver in sorted(entry["fparts"].items(), key=lambda kv: int(kv[0]))
        ]
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(*paths)

    def _read_probe_dir(self, rel: str, config: CrawlConfig | None = None):
        """Probe-layer state with the schema config.probe dictates (the
        'bloom' table dir holds cuckoo tables in cuckoo mode)."""
        schema = BLOOM_SCHEMA if config is None else probe_state_schema(config)
        return self.spark.read.schema(schema).parquet(os.path.join(self.root, rel))

    def read_bloom(self, round_id: int) -> DataFrame:
        return self._read_probe_dir(self._round(round_id, "probe state")["bloom"])

    def read_probe(self, round_id: int, config: CrawlConfig) -> DataFrame:
        return self._read_probe_dir(
            self._round(round_id, "probe state")["bloom"], config
        )

    def _delta_paths(self, table: str, upto_round: int) -> list[str]:
        return [
            self._p(table, r)
            for r in range(upto_round + 1)
            if os.path.exists(self._p(table, r))
        ]

    def read_seen(self, upto_round: int) -> DataFrame:
        seen = (self._doc() or {"seen": {}})["seen"]
        paths = [
            os.path.join(self.root, p)
            for r, p in seen.items() if int(r) <= upto_round
        ]
        if not paths:
            return self.spark.createDataFrame([], SEEN_SCHEMA)
        return self.spark.read.schema(SEEN_SCHEMA).parquet(*paths)

    def read_robots(self, upto_round: int) -> DataFrame:
        from ..operators.robots_join import ROBOTS_SCHEMA, empty_robots

        paths = self._delta_paths("robots_delta", upto_round)
        if not paths:
            return empty_robots(self.spark)
        return self.spark.read.schema(ROBOTS_SCHEMA).parquet(*paths)

    def read_fetched(self, upto_round: int) -> DataFrame:
        paths = self._delta_paths("fetched", upto_round)
        if not paths:
            raise FileNotFoundError("no fetched output yet")
        return self.spark.read.parquet(*paths)

    def read_metrics(self, upto_round: int) -> DataFrame:
        paths = self._delta_paths("metrics", upto_round)
        return self.spark.read.parquet(*paths)

    def read_links(self, upto_round: int) -> DataFrame:
        """Crawl link graph (src_hash64, dst_hash64, round) — `index -R`
        input (SURVEY.md D5/J6/A5)."""
        paths = self._delta_paths("links", upto_round)
        if not paths:
            return self.spark.createDataFrame(
                [], "src_hash64 long, dst_hash64 long, round int"
            )
        return self.spark.read.parquet(*paths)
