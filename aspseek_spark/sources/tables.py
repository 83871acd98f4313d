"""Crawl state tables with atomic snapshot commit (SURVEY.md §2.10, SNK1).

The reference keeps all durable crawl state in transactional MySQL tables
([R:src/sqldb.cpp]); the north_star replaces them with Iceberg frontier /
seen / fetched tables whose snapshots make a killed job resume with an
identical frontier (BASELINE.json:6,14). This image has no Iceberg jars
(SURVEY.md §7 hard-part 5), so snapshot isolation is emulated with the same
commit protocol Iceberg uses underneath: write immutable data files, then
atomically publish a manifest (sources/manifest.publish_manifest: one
os.replace on manifest.json). A round is visible iff the manifest
references it; partially-written rounds are invisible and simply
overwritten on retry — combined with fully deterministic round logic this
gives exactly-once-equivalent resume.

Table layouts (all parquet, explicit schemas — FIXTURES.md):

  frontier_rounds/round=N/fpart=V/
                        PARTITIONED frontier: fpart is a due-time bucket
                        (next_fetch_unix // (interval·frontier_part_rounds)).
                        A round writes ONLY the partitions it touched (due +
                        new + revisit); untouched partitions keep their
                        existing version dirs byte-identical. The manifest
                        maps fpart → owning round per committed round —
                        exactly Iceberg's partition-overwrite snapshot model.
  bloom/round=N/        snapshot per round (P blob rows; tiny)
  seen_delta/round=N/   append-only — only NEW urls each round, so per-round
                        write cost is O(new), not O(total); the logical
                        ``seen`` table is the union of deltas 0..N (at real
                        scale: an Iceberg append per round)
  seen_bucketed/        catalog table BUCKETED by url_canon (J1 scale path):
                        each committed delta is appended bucket-aligned so
                        the exact backstop is a bucket-local join — the seen
                        side never shuffles, never broadcasts. Derived from
                        the deltas (membership-only consumer, so replayed
                        appends are harmless); rebuilt after deletions.
  robots_delta/round=N/ append-only robots-cache additions
  fetched/round=N/      append-only crawl output (+ extracted text)
  metrics/round=N/      append-only per-round lineage + metrics [B:14]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from .manifest import publish_manifest, read_manifest

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


class StateStore:
    """Directory-backed snapshot store with atomic manifest publish."""

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def last_committed_round(self) -> int | None:
        doc = read_manifest(self._manifest_path)
        return None if doc is None else doc["last_round"]

    def _publish(
        self,
        round_id: int,
        config: CrawlConfig,
        frontier_maps: dict[int, dict[int, int]] | None = None,
    ) -> None:
        doc: dict = {
            "last_round": round_id,
            "config": json.loads(config.to_json()),
        }
        if frontier_maps is not None:
            doc["frontier_maps"] = {
                str(r): {str(v): ver for v, ver in m.items()}
                for r, m in frontier_maps.items()
            }
        publish_manifest(self._manifest_path, doc)  # the commit point

    # -- paths --------------------------------------------------------------
    def _p(self, table: str, round_id: int) -> str:
        return os.path.join(self.root, table, f"round={round_id}")

    def write_table(self, name: str, round_id: int, df) -> None:
        """One plain snapshot-table write. The fetched/links writes run
        before write_round, during the seen/new-urls phase
        (plans/crawl_round). Running pre-publish is safe for the same
        reason the chained bucketed-seen append is: round logic is
        deterministic (a crashed-then-retried round re-derives and
        overwrites the same delta) and every reader gates on the committed
        manifest, so files from an uncommitted attempt are invisible."""
        df.write.mode("overwrite").parquet(self._p(name, round_id))

    # -- partitioned frontier (SNK1: rounds rewrite only touched fparts) -----
    def _frontier_round_dir(self, round_id: int) -> str:
        return os.path.join(self.root, "frontier_rounds", f"round={round_id}")

    def frontier_map(self, round_id: int) -> dict[int, int] | None:
        """fpart → owning-round map for ``round_id``; None when the
        manifest retains no map for that round (not committed, or older
        than the two-round resume window)."""
        maps = (read_manifest(self._manifest_path) or {}).get("frontier_maps")
        if maps is None or str(round_id) not in maps:
            return None
        return {int(v): int(ver) for v, ver in maps[str(round_id)].items()}

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

    def _write_frontier_partitioned(
        self, round_id: int, config: CrawlConfig, frontier: DataFrame
    ) -> dict[int, int]:
        """Write ONLY the touched partitions' rows under this round's dir;
        return the new fpart → owning-round map. Rows in untouched
        partitions are not written — their existing version dirs stay
        referenced by the returned map (and physically untouched)."""
        prev_map = self.frontier_map(round_id - 1) or {}
        touched = self._touched_fparts(round_id, config, prev_map)
        g = self._fpart_granularity(config)
        out_dir = self._frontier_round_dir(round_id)
        (
            frontier.withColumn(
                "fpart",
                F.floor(F.col("next_fetch_unix") / F.lit(g)).cast("long"),
            )
            .filter(F.col("fpart").isin([int(v) for v in touched]))
            # r07 (guide §6 small files): cluster by the partition column so
            # each touched fpart lands in ~ONE file instead of one file per
            # (writer task × fpart). Without this, every round emitted up to
            # shuffle.partitions files per fpart, and the NEXT round's two
            # full-frontier scans (the due scan and the not_due rewrite
            # branch) paid listing + footer + open cost for hundreds of
            # KB-sized files. The extra exchange moves only the touched
            # rows (slim columns, no page bodies).
            .repartition("fpart")
            .write.mode("overwrite")
            .partitionBy("fpart")
            .parquet(out_dir)
        )
        present = {
            int(d.split("=", 1)[1])
            for d in os.listdir(out_dir)
            if d.startswith("fpart=")
        }
        new_map = {v: r for v, r in prev_map.items() if v not in touched}
        new_map.update({v: round_id for v in present})
        return new_map

    def _gc_frontier_versions(self, kept_maps: dict[int, dict[int, int]]) -> None:
        """Remove version dirs no committed map references (Iceberg:
        expire_snapshots). Untouched partitions keep old round dirs alive
        for as long as a kept map points at them."""
        base = os.path.join(self.root, "frontier_rounds")
        if not os.path.isdir(base):
            return
        newest = max(kept_maps) if kept_maps else -1
        referenced = {
            (ver, v) for m in kept_maps.values() for v, ver in m.items()
        }
        for rd in os.listdir(base):
            if not rd.startswith("round="):
                continue
            r = int(rd.split("=", 1)[1])
            if r >= newest:
                # never GC inside the newest commit (or a concurrent writer)
                continue
            rdir = os.path.join(base, rd)
            for pd in os.listdir(rdir):
                if pd.startswith("fpart="):
                    v = int(pd.split("=", 1)[1])
                    if (r, v) not in referenced:
                        shutil.rmtree(os.path.join(rdir, pd))
            if not any(p.startswith("fpart=") for p in os.listdir(rdir)):
                shutil.rmtree(rdir)

    # -- bucketed seen (J1 exact-backstop scale path) -------------------------
    @property
    def _seen_bkt_name(self) -> str:
        digest = hashlib.md5(self.root.encode()).hexdigest()[:10]
        return f"seen_bkt_{digest}"

    @property
    def _seen_bkt_path(self) -> str:
        return os.path.join(self.root, "seen_bucketed")

    @property
    def _seen_bkt_marker(self) -> str:
        return os.path.join(self.root, "seen_bucketed.json")

    def _sync_seen_bucketed(self, upto_round: int, config: CrawlConfig) -> None:
        """Append committed seen deltas (marker+1 .. upto_round) into the
        bucketed table. Idempotence note: the bucketed table is consumed for
        MEMBERSHIP only (left_anti backstop), so a crash-replayed append can
        only duplicate rows of its own delta — the membership set is
        unchanged. The committed delta files are always the source of truth.
        """
        empty = {"upto_round": -1, "buckets": config.seen_buckets}
        marker = read_manifest(self._seen_bkt_marker) or empty
        if marker["buckets"] != config.seen_buckets:
            # bucket-count drift: rebuild from scratch
            self.spark.sql(f"DROP TABLE IF EXISTS {self._seen_bkt_name}")
            shutil.rmtree(self._seen_bkt_path, ignore_errors=True)
            marker = empty
        if (
            marker["upto_round"] >= 0
            and not self.spark.catalog.tableExists(self._seen_bkt_name)
        ):
            if not os.path.isdir(self._seen_bkt_path):
                # files gone (fresh root reusing a role) — rebuild
                marker = empty
            else:
                # Files present + marker current, but the saveAsTable entry
                # lives in the SESSION's in-memory catalog — a resume in a
                # NEW Spark process would otherwise hit
                # TABLE_OR_VIEW_NOT_FOUND (round-3 ADVICE, high). Re-register
                # the external bucketed table over the existing files; the
                # bucket spec must match the writer's exactly or the
                # bucket-local join plan (explain check 10) silently degrades.
                cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in SEEN_SCHEMA.fields
                )
                self.spark.sql(
                    f"CREATE TABLE {self._seen_bkt_name} ({cols}) "
                    f"USING parquet "
                    f"CLUSTERED BY (url_canon) SORTED BY (url_canon) "
                    f"INTO {config.seen_buckets} BUCKETS "
                    f"LOCATION '{self._seen_bkt_path}'"
                )
        done = marker["upto_round"]
        for r in range(done + 1, upto_round + 1):
            p = self._p("seen_delta", r)
            if not os.path.exists(p):
                continue
            delta = self.spark.read.schema(SEEN_SCHEMA).parquet(p)
            (
                # repartition by the bucket column first: HashPartitioning
                # matches the bucket hash, so each task owns exactly one
                # bucket and the append emits ONE file per bucket per round
                delta.repartition(config.seen_buckets, "url_canon")
                .write.mode("append")
                .format("parquet")
                .bucketBy(config.seen_buckets, "url_canon")
                .sortBy("url_canon")
                .option("path", self._seen_bkt_path)
                .saveAsTable(self._seen_bkt_name)
            )
        marker["upto_round"] = max(done, upto_round)
        publish_manifest(self._seen_bkt_marker, marker)

    def read_seen_bucketed(self, upto_round: int, config: CrawlConfig) -> DataFrame:
        """The seen set as a BUCKETED table (url_canon buckets): joining on
        url_canon against this side plans bucket-locally — no Exchange above
        the seen scan, nothing broadcast (scripts/explain_plans.py check 10).
        Catches up any deltas committed after the last sync (crash window)."""
        self._sync_seen_bucketed(upto_round, config)
        return self.spark.table(self._seen_bkt_name).filter(
            F.col("round_added") <= F.lit(upto_round)
        )

    def _rebuild_seen_bucketed(self, upto_round: int, config: CrawlConfig) -> None:
        """Drop + resync (after deletions: the bucketed table must forget)."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self._seen_bkt_name}")
        shutil.rmtree(self._seen_bkt_path, ignore_errors=True)
        if os.path.exists(self._seen_bkt_marker):
            os.remove(self._seen_bkt_marker)
        self._sync_seen_bucketed(upto_round, config)

    # -- writes (invisible until _publish) -----------------------------------
    def write_round(
        self,
        round_id: int,
        config: CrawlConfig,
        frontier: DataFrame,
        bloom: DataFrame,
        seen_delta: DataFrame,
        robots_delta: DataFrame,
        *,
        submit,
    ) -> None:
        """Write round ``round_id``'s snapshot tables, then publish it.
        (The round's fetched and links tables are written before this, by
        plans/crawl_round; its metrics row after, by plans/crawl_loop.)

        The tables are independent once the shared upstream lineage is
        materialized (the caller persists + counts it first), so their
        write jobs run CONCURRENTLY through ``submit(fn, *args) -> Future``
        on the caller's executor — overlapping the per-job fixed latencies
        cuts the serial floor of a round by ~3×. The manifest publish (the
        commit point) happens strictly after every write; a failed write
        raises before it, and the caller waits for the writes still
        running."""
        new_map: dict[int, int] = {}

        def _write(name: str, df: DataFrame) -> None:
            if name == "frontier":
                # partitioned write: only touched fparts (see module doc)
                new_map.update(
                    self._write_frontier_partitioned(round_id, config, df)
                )
                return
            self.write_table(name, round_id, df)
            if name == "seen_delta":
                # chain the bucketed-backstop append onto the delta write,
                # in the same task so its latency overlaps the other table
                # writes. Running it pre-publish is safe: round logic is
                # deterministic (a retried round re-derives the same delta),
                # the table is consumed membership-only, and every read
                # filters round_added <= last-committed — rows from a
                # crashed-then-retried attempt are invisible until the
                # round actually commits, and the marker stops them from
                # being appended twice.
                self._sync_seen_bucketed(round_id, config)

        tables = (
            ("frontier", frontier),
            ("bloom", bloom),
            ("seen_delta", seen_delta),
            ("robots_delta", robots_delta),
        )
        for fut in [submit(_write, name, df) for name, df in tables]:
            fut.result()

        # keep the previous round's map for time travel (resume window = 2)
        kept_maps = {round_id: new_map}
        prev_map = self.frontier_map(round_id - 1)
        if prev_map is not None:
            kept_maps[round_id - 1] = prev_map
        self._publish(round_id, config, frontier_maps=kept_maps)
        # (bucketed-seen sync already ran chained on the seen_delta write;
        # a crash anywhere is healed by read_seen_bucketed's marker-driven
        # catch-up)
        # snapshot GC (Iceberg: expire_snapshots): unreferenced frontier
        # version dirs + all-but-last-2 bloom snapshots
        self._gc_frontier_versions(kept_maps)
        for old in range(round_id - 2, -1, -1):
            path = self._p("bloom", old)
            if os.path.exists(path):
                shutil.rmtree(path)
            else:
                break

    def delete_urls(self, round_id: int, urls: list[str], config) -> None:
        """URL expiry / tag deletion (north_star cuckoo-deletion use case;
        reference: DELETE from urlword): remove ``urls`` from the committed
        seen set, frontier, and probe-filter state at ``round_id`` so the
        crawl can re-discover and re-fetch them.

        Mechanics: the seen deltas up to round_id are consolidated (minus
        deletions) into round_id's delta and older delta dirs removed; the
        frontier snapshot is rewritten without the urls; the bloom blobs of
        ONLY the touched pids are rebuilt from the surviving seen rows
        (operators/seen.seen_delete) — bounded work. Deployments with
        frequent deletion swap the bloom for operators/cuckoo_seen (true
        O(1) deletes, no rebuild).
        """
        from ..operators.seen import seen_delete

        deletes = self.spark.createDataFrame(
            [(u,) for u in urls], "url_canon string"
        )
        new_seen = self.read_seen(round_id).join(
            deletes, "url_canon", "left_anti"
        ).localCheckpoint()
        new_frontier = self.read_frontier(round_id).join(
            deletes, "url_canon", "left_anti"
        ).localCheckpoint()
        if getattr(config, "probe", "bloom") == "cuckoo":
            # cuckoo path: true O(1) deletion, no blob rebuild
            from ..operators.cuckoo_seen import cuckoo_delete

            new_bloom = cuckoo_delete(
                deletes, self.read_probe(round_id, config), config
            ).localCheckpoint()
        else:
            new_bloom = seen_delete(
                new_seen, self.read_bloom(round_id), deletes, config
            ).localCheckpoint()
        new_seen.write.mode("overwrite").parquet(
            self._p("seen_delta", round_id)
        )
        for r in range(round_id):
            p = self._p("seen_delta", r)
            if os.path.exists(p):
                shutil.rmtree(p)
        # deletions are rare (tag expiry): rewrite ALL partitions as a
        # fresh full version of round_id and republish the map
        g = self._fpart_granularity(config)
        out_dir = self._frontier_round_dir(round_id)
        (
            new_frontier.withColumn(
                "fpart",
                F.floor(F.col("next_fetch_unix") / F.lit(g)).cast("long"),
            )
            .write.mode("overwrite")
            .partitionBy("fpart")
            .parquet(out_dir)
        )
        fmap = {
            int(d.split("=", 1)[1]): round_id
            for d in os.listdir(out_dir)
            if d.startswith("fpart=")
        }
        kept = {round_id: fmap}
        prev = self.frontier_map(round_id - 1)
        if prev is not None:
            kept[round_id - 1] = prev
        self._publish(round_id, config, frontier_maps=kept)
        self._gc_frontier_versions(kept)
        new_bloom.write.mode("overwrite").parquet(self._p("bloom", round_id))
        # the bucketed backstop table must forget the deleted urls too
        self._rebuild_seen_bucketed(round_id, config)

    # -- reads (only committed rounds) ---------------------------------------
    def read_frontier(self, round_id: int) -> DataFrame:
        fmap = self.frontier_map(round_id)
        if fmap is None:
            raise FileNotFoundError(
                f"no committed frontier for round {round_id} in "
                f"{self.root} (the manifest keeps the last two rounds)"
            )
        if not fmap:
            return self.spark.createDataFrame([], FRONTIER_SCHEMA)
        paths = [
            os.path.join(self._frontier_round_dir(ver), f"fpart={v}")
            for v, ver in sorted(fmap.items())
        ]
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(*paths)

    def read_bloom(self, round_id: int) -> DataFrame:
        return self.spark.read.schema(BLOOM_SCHEMA).parquet(
            self._p("bloom", round_id)
        )

    def read_probe(self, round_id: int, config: CrawlConfig) -> DataFrame:
        """Probe-layer state with the schema config.probe dictates (the
        'bloom' table dir holds cuckoo tables in cuckoo mode)."""
        return self.spark.read.schema(probe_state_schema(config)).parquet(
            self._p("bloom", round_id)
        )

    def _delta_paths(self, table: str, upto_round: int) -> list[str]:
        return [
            self._p(table, r)
            for r in range(upto_round + 1)
            if os.path.exists(self._p(table, r))
        ]

    def read_seen(self, upto_round: int) -> DataFrame:
        paths = self._delta_paths("seen_delta", upto_round)
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
