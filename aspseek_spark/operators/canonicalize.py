"""URL canonicalization columns (SURVEY.md §2.8 S1-S4).

The authoritative canonicalizer is the pure function ``canon1``
(functions/urlnorm.py) — wrapped here in Arrow-batched pandas UDFs so the
engine and the pure-Python oracle crawler share one implementation
(BASELINE.json:16: vectorized pandas/Arrow UDFs, no per-row Python at the
Spark API layer).

Hash columns (§7 hard-part 3):
  - ``hash32``  = F.hash(url_canon)      → 32-bit murmur3, used ONLY for
    bloom-partition routing (birthday collisions at 10^10 keys are harmless
    for routing).
  - ``url_hash64`` = F.xxhash64(url_canon) → seen-set identity key; the
    exact URL string is still carried for the anti-join backstop, so even
    64-bit collisions cannot corrupt the seen set.
Both are JVM-side built-ins — no Python in the hash path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urlnorm import canon1


@F.pandas_udf(T.StringType())
def canon_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canon1, na_action="ignore")


def host_col(url_canon: str | Column = "url_canon") -> Column:
    """Host (incl. non-default port) of an already-CANONICAL url — pure JVM
    regexp (codegen), equivalent to functions.urlnorm.host_of on canonical
    input (scheme is http/https, host is lowercase, path always present)."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.regexp_extract(c, r"^https?://([^/]+)", 1)


def hash32_col(url_canon: str | Column = "url_canon") -> Column:
    return F.hash(url_canon)


def hash64_col(url_canon: str | Column = "url_canon") -> Column:
    return F.xxhash64(url_canon)


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """url → url_canon, host, url_hash64, hash32; drops uncanonicalizable."""
    return (
        df.withColumn("url_canon", canon_udf(F.col(url_col)))
        .filter(F.col("url_canon").isNotNull())
        .withColumn("host", host_col(F.col("url_canon")))
        .withColumn("url_hash64", hash64_col(F.col("url_canon")))
        .withColumn("hash32", hash32_col(F.col("url_canon")))
    )
