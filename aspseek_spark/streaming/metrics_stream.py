"""Streaming crawl metrics (SURVEY.md §2.10): windowed rates over the
fetched stream with watermarks for late events.

The reference's `index -S` statistics are batch counts over MySQL; a live
deployment wants them as a stream. These operators read the ``fetched``
table directory as a file stream (new round partitions appear as files —
exactly how the snapshot commit publishes them) and maintain per-window
fetch counts / status breakdown (tumbling window on sched time, watermark
bounds state).

Batch parity: each streaming aggregation has the identical batch
expression, and tests drive the stream with availableNow + memory sink and
assert stream == batch on the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FETCHED_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash64", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seq_in_host", T.IntegerType()),
        T.StructField("sched_unix", T.LongType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_crc", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_links", T.IntegerType()),
    ]
)


def read_fetched_stream(spark: SparkSession, fetched_root: str) -> DataFrame:
    """File-source stream over fetched/round=N dirs (one per commit)."""
    return (
        spark.readStream.schema(FETCHED_STREAM_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(fetched_root)
    )


def _with_event_time(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "sched_ts", F.timestamp_seconds(F.col("sched_unix"))
    )


def windowed_fetch_rates(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window fetch counts by status class; watermark bounds the
    state so late rounds (re-processed snapshots) are folded in, very-late
    ones dropped deterministically."""
    return (
        _with_event_time(stream)
        .withWatermark("sched_ts", watermark)
        .groupBy(
            F.window("sched_ts", window).alias("w"),
            (F.col("status") - F.pmod(F.col("status"), 100)).alias("status_class"),
        )
        .agg(
            F.count("*").alias("n_fetches"),
            F.approx_count_distinct("host").alias("n_hosts"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status_class",
            "n_fetches",
            "n_hosts",
        )
    )


def windowed_fetch_rates_batch(fetched: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch expression of the same aggregation (stream/batch parity test)."""
    return (
        _with_event_time(fetched)
        .groupBy(
            F.window("sched_ts", window).alias("w"),
            (F.col("status") - F.pmod(F.col("status"), 100)).alias("status_class"),
        )
        .agg(
            F.count("*").alias("n_fetches"),
            F.approx_count_distinct("host").alias("n_hosts"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status_class",
            "n_fetches",
            "n_hosts",
        )
    )


def run_stream_to_memory(
    agg: DataFrame, spark: SparkSession, name: str
) -> DataFrame:
    """Drive a streaming agg to completion with availableNow → memory sink;
    returns the result as a batch DataFrame (test/demo harness)."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")
