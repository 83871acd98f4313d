"""Stored-index serving for the driver's search-family q-entries
(round-5 verdict next-round #1 — "make the driver-gated plan the scale
plan").

The driver contract hands every entry ``(spark, sf_dir)`` over raw parquet
tables, so until round 5 the search-family entries (q35/q36/q38/q39/q40/
q47/q53/q55–q59) re-tokenized the ``documents`` corpus per query — right
answers, wrong plan at 100×: a production engine answers queries from its
PERSISTED index ([R:src/search.cpp] over posting files), never by
re-parsing the crawl. This module closes that gap within the contract:

  job_for(spark, sf_dir)  — build a SearchJob index from the documents
                            table ONCE per sf_dir and memoize it
                            (process-level) + persist it on disk keyed by
                            a source fingerprint (size + mtime of
                            documents.parquet + a layout version), so one
                            driver/bench session builds once and answers
                            all twelve entries via bucket-pruned probes of
                            the stored index.

The oracles are unchanged: the stored index is a lossless re-encoding of
the same documents (same tokenizer, same doc ids), so every family returns
byte-identical values — the driver's value-hash gate proves it per round.

The documents→fetched adapter pins the deterministic columns the entries'
oracles already assume: host = ``source`` (the q56 `site:` column),
sched_unix = doc_id·100 (the q58 `after:` stamp), content_md5 = md5(text)
(the q57 clone key).
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.manifest import publish_manifest, read_manifest
from .search_job import SearchJob

# bump when the adapter/index layout changes — stale on-disk caches rebuild
_LAYOUT_VERSION = "v3"
_N_BUCKETS = 32

_lock = threading.Lock()
_jobs: dict[str, SearchJob] = {}


def documents_as_fetched(documents: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents`` table to the fetched-table shape
    SearchJob indexes: one committed 200-fetch per doc. Every derived
    column is a pure deterministic function of the row, mirrored by the
    entries' DuckDB oracles (see module docstring)."""
    return documents.select(
        F.lit(0).alias("round"),
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias(
            "url_canon"
        ),
        F.col("doc_id").cast("long").alias("url_hash64"),
        F.col("source").alias("host"),
        F.lit(200).alias("status"),
        F.col("text"),
        (F.col("doc_id") * 100).cast("long").alias("sched_unix"),
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
    )


def _cache_root() -> str:
    env = os.environ.get("SPARK_GRAFT_ENTRY_CACHE")
    if env:
        return env
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo, ".cache", "entry_index")


def _fingerprint(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    return f"{_LAYOUT_VERSION}:{st.st_size}:{st.st_mtime_ns}:{_N_BUCKETS}"


def job_for(spark: SparkSession, sf_dir: str) -> SearchJob:
    """The memoized per-sf_dir SearchJob over the documents table. First
    touch in a process either adopts a fingerprint-valid on-disk index
    (zero build work — the bench path) or builds one (one tokenize pass,
    amortized over every search-family entry); everything after is
    bucket-pruned probes."""
    key = os.path.abspath(sf_dir)
    with _lock:
        job = _jobs.get(key)
        if job is not None:
            return job
        slug = key.strip("/").replace("/", "_")
        root = os.path.join(_cache_root(), slug)
        job = SearchJob(spark, root, n_buckets=_N_BUCKETS)
        fp_path = os.path.join(root, "source.fp")
        fp = {"fingerprint": _fingerprint(sf_dir)}
        # a root in an older layout has no manifest: rebuilt, fp unread
        if job._manifest()["version"] is None or read_manifest(fp_path) != fp:
            shutil.rmtree(root, ignore_errors=True)
            docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            job.build_from_fetched(documents_as_fetched(docs))
            # the fingerprint commits AFTER the index
            publish_manifest(fp_path, fp)
        _jobs[key] = job
        return job


def links_graph(documents: DataFrame) -> DataFrame:
    """The deterministic link graph the q59 `link:` entry and its oracle
    both derive from documents: doc i links to target 'doc{i mod 37}'."""
    return documents.select(
        F.col("doc_id").alias("doc"),
        F.concat(F.lit("doc"), (F.col("doc_id") % 37).cast("string")).alias(
            "target"
        ),
    )
